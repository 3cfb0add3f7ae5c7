"""The benchmark's workloads: seeded operation streams over the public API.

Each workload builds its engine state in `setup`, turns a seeded
`random.Random` into operations (`make_op`), runs one operation
(`run_op`, timed by the caller) and checks the kept results after the
timed window (`check`). Template choice is a fixed rotation over the op
index, so every seed runs the same mix; the seed only changes literals,
which makes every SQL text new to the engine's caches.

Why each workload exists:

- remote_adhoc: every query lands on one DuckDB provider and collapses to
  a single remote SQL with a small result, so the planning layers
  (parse, optimizer, unparser, schema inference and cast) dominate.
- split_join: local lineitem parquet joined to remote orders (and
  customer); tens of thousands of remote rows per op cross DuckDB ->
  Arrow -> Spark and Spark runs the join. Planning changes are bypassed.
- writeback: Spark frames written with `insert_into`, remote-only
  `INSERT ... SELECT`, and a repeated aggregate read that must equal the
  benchmark's own tally: the sources layer in the write direction, and
  a read that hits the schema cache and would show stale results.
- corpus_dedup: MinHash near-duplicate detection and quality features
  over seeded document batches with planted near-duplicates, from a
  corpus shaped like the sf0.1 `documents` table: the operators layer,
  bypassing every federation layer.
"""

from __future__ import annotations

import datetime as dt
import itertools
import math
import os
from collections import Counter
from contextlib import nullcontext
from typing import Any, Dict, List

import datagen

REL_TOL = 1e-9
CHECKS_PER_RUN = 16

DEDUP_BATCH = 1000
DEDUP_PLANTED = 100
DEDUP_THRESHOLD = 0.5
DEDUP_SHINGLE_N = 3
# Half the planted copies follow the corpus's own rule (the marker word
# appended, Jaccard ~0.98); the other half replace each word with a
# probability drawn from this range, which spreads their Jaccard over
# about 0.2-0.95, across the threshold, so some LSH candidates fail
# verification and some true pairs sit near the threshold.
DEDUP_EDIT_RATE = (0.02, 0.2)
# LSH with 8 bands of 4 rows finds a pair at Jaccard 0.8 with p ~ 0.985:
# at least RECALL_FLOOR of the batch's pairs at or above RECALL_JACCARD
# (planted or already in the corpus) must be reported
RECALL_JACCARD = 0.8
RECALL_FLOOR = 0.9


def _date(day: int) -> str:
    return (dt.date(1995, 1, 1) + dt.timedelta(days=day)).isoformat()


class Workload:
    name = ""
    # warm-up ops in the setup: they cover the steepest part of the JVM's
    # warm-up, so the timed window does not start on it
    warmup_ops = 1
    cycle = 1           # ops per rotation of the query templates

    def __init__(self, data_dir: str) -> None:
        self.data_dir = data_dir
        self.spark = None
        self.tracer = None

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else nullcontext()

    def path(self, table: str) -> str:
        return os.path.join(self.data_dir, f"{table}.parquet")

    def setup(self, spark) -> None:
        raise NotImplementedError

    def teardown(self) -> None:
        pass

    def make_op(self, rng, i: int) -> Dict[str, Any]:
        raise NotImplementedError

    def run_op(self, op: Dict[str, Any]) -> Any:
        raise NotImplementedError

    def check(self, done: List[Dict[str, Any]], rng) -> List[int]:
        """Indices (into ``done``) of ops whose kept result is wrong."""
        raise NotImplementedError


class _Federated(Workload):
    """Shared state: one DuckDB executor behind one SQLProvider."""

    remote_tables: tuple = ()
    local_tables: tuple = ()

    def setup(self, spark) -> None:
        from datafusion_federation_spark import (
            DuckDBExecutor, FederationEngine, SQLProvider)
        self.spark = spark
        self.executor = DuckDBExecutor(name="duck",
                                       compute_context="perfbench")
        for t in self.remote_tables:
            self.executor.register_parquet(t, self.path(t))
        self.prepare_remote(self.executor.conn)
        self.engine = FederationEngine(spark)
        provider = SQLProvider(self.executor)
        for t in self.remote_tables + self.extra_remote():
            self.engine.register_remote(provider, t)
        for t in self.local_tables:
            self.engine.register_local_parquet(t, self.path(t))

    def prepare_remote(self, conn) -> None:
        pass

    def extra_remote(self) -> tuple:
        return ()

    def teardown(self) -> None:
        self.executor.conn.close()

    def run_op(self, op):
        df = self.engine.sql(op["sql"])
        with self.span("spark.collect"):
            return [tuple(r) for r in df.collect()]

    def check(self, done, rng):
        """Re-run a seeded subset of the queries on a fresh DuckDB over
        the same parquet files and compare the rows."""
        import duckdb
        idx = [i for i, d in enumerate(done) if "rows" in d]
        idx = sorted(rng.sample(idx, min(CHECKS_PER_RUN, len(idx))))
        conn = duckdb.connect()
        try:
            for t in self.remote_tables + self.local_tables:
                conn.execute(f'CREATE VIEW "{t}" AS SELECT * FROM '
                             f"read_parquet('{self.path(t)}')")
            return [i for i in idx if not rows_equal(
                done[i]["rows"],
                conn.execute(done[i]["op"]["sql"]).fetchall())]
        finally:
            conn.close()


def _norm(v):
    if isinstance(v, float):
        return ("f", round(v, 3))
    return ("v", str(v))


def rows_equal(got, want) -> bool:
    """Multiset equality of result rows, floats within REL_TOL."""
    if len(got) != len(want):
        return False
    for a, b in zip(sorted(got, key=lambda r: [_norm(v) for v in r]),
                    sorted(want, key=lambda r: [_norm(v) for v in r])):
        if len(a) != len(b):
            return False
        for x, y in zip(a, b):
            if isinstance(x, float) or isinstance(y, float):
                if x is None or y is None or not math.isclose(
                        x, y, rel_tol=REL_TOL, abs_tol=1e-6):
                    return False
            elif x != y:
                return False
    return True


class RemoteAdhoc(_Federated):
    name = "remote_adhoc"
    warmup_ops = 48
    cycle = 6
    remote_tables = ("orders", "customer", "nation", "supplier", "part")

    def make_op(self, rng, i):
        k = i % 6
        if k == 0:
            sql = ("SELECT o_orderpriority, COUNT(*) AS n, "
                   "SUM(o_totalprice) AS total FROM orders "
                   f"WHERE o_orderstatus = '{rng.choice(datagen.STATUSES)}' "
                   f"AND o_totalprice > {rng.uniform(1e3, 4.5e5):.2f} "
                   "GROUP BY o_orderpriority")
        elif k == 1:
            sql = ("SELECT c_custkey, c_name, c_acctbal, c_mktsegment "
                   "FROM customer WHERE c_custkey = "
                   f"{rng.randrange(datagen.N_CUSTOMERS)}")
        elif k == 2:
            sql = ("SELECT n.n_name, COUNT(*) AS n, SUM(c.c_acctbal) AS bal "
                   "FROM customer c JOIN nation n "
                   "ON c.c_nationkey = n.n_nationkey "
                   f"WHERE c.c_mktsegment = '{rng.choice(datagen.SEGMENTS)}' "
                   f"AND c.c_acctbal > {rng.uniform(-900, 9000):.2f} "
                   "GROUP BY n.n_name")
        elif k == 3:
            lo = rng.randrange(datagen.DATE_DAYS - 400)
            hi = lo + rng.randint(7, 400)
            sql = ("SELECT COUNT(*) AS n, SUM(o_totalprice) AS total, "
                   "MAX(o_totalprice) AS top FROM orders "
                   f"WHERE o_orderdate >= DATE '{_date(lo)}' "
                   f"AND o_orderdate < DATE '{_date(hi)}'")
        elif k == 4:
            sql = ("SELECT n.n_regionkey, COUNT(*) AS n, "
                   "AVG(s.s_acctbal) AS bal FROM supplier s JOIN nation n "
                   "ON s.s_nationkey = n.n_nationkey "
                   f"WHERE s.s_acctbal > {rng.uniform(-900, 9000):.2f} "
                   "GROUP BY n.n_regionkey")
        else:
            sql = ("SELECT p_brand, COUNT(*) AS n, "
                   "AVG(p_retailprice) AS price FROM part "
                   f"WHERE p_type = '{rng.choice(datagen.PART_TYPES)}' "
                   f"AND p_size <= {rng.randint(5, 50)} GROUP BY p_brand")
        return {"sql": sql}


class SplitJoin(_Federated):
    name = "split_join"
    warmup_ops = 3
    cycle = 3
    remote_tables = ("orders", "customer")
    local_tables = ("lineitem",)

    def make_op(self, rng, i):
        k = i % 3
        if k == 0:
            lo = rng.randrange(datagen.DATE_DAYS - 730)
            sql = ("SELECT o.o_orderpriority, COUNT(*) AS n, "
                   "SUM(l.l_extendedprice * (1 - l.l_discount)) AS revenue "
                   "FROM lineitem l JOIN orders o "
                   "ON l.l_orderkey = o.o_orderkey "
                   f"WHERE o.o_orderdate >= DATE '{_date(lo)}' "
                   f"AND o.o_orderdate < DATE '{_date(lo + 730)}' "
                   f"AND l.l_quantity <= {rng.randint(10, 50)} "
                   "GROUP BY o.o_orderpriority")
        elif k == 1:
            lo = rng.randrange(datagen.DATE_DAYS - 1100)
            sql = ("SELECT c.c_mktsegment, COUNT(*) AS n, "
                   "SUM(l.l_quantity) AS qty FROM lineitem l "
                   "JOIN orders o ON l.l_orderkey = o.o_orderkey "
                   "JOIN customer c ON o.o_custkey = c.c_custkey "
                   f"WHERE o.o_orderdate >= DATE '{_date(lo)}' "
                   f"AND o.o_orderdate < DATE '{_date(lo + 1100)}' "
                   f"AND c.c_acctbal > {rng.uniform(-900, 9000):.2f} "
                   "GROUP BY c.c_mktsegment")
        else:
            lo = rng.randrange(datagen.DATE_DAYS - 1460)
            sql = ("SELECT l.l_returnflag, l.l_linestatus, COUNT(*) AS n, "
                   "AVG(o.o_totalprice) AS avg_total "
                   "FROM lineitem l JOIN orders o "
                   "ON l.l_orderkey = o.o_orderkey "
                   f"WHERE o.o_orderstatus = '{rng.choice(datagen.STATUSES)}' "
                   f"AND o.o_orderdate >= DATE '{_date(lo)}' "
                   f"AND o.o_orderdate < DATE '{_date(lo + 1460)}' "
                   "GROUP BY l.l_returnflag, l.l_linestatus")
        return {"sql": sql}


TALLY_TABLE = "order_tally"
TALLY_READ = (f"SELECT kind, COUNT(*) AS n, SUM(o_orderkey) AS keysum "
              f"FROM {TALLY_TABLE} GROUP BY kind")


class Writeback(_Federated):
    name = "writeback"
    warmup_ops = 48
    cycle = 4
    remote_tables = ("orders",)

    def prepare_remote(self, conn):
        conn.execute(f"CREATE TABLE {TALLY_TABLE} (batch_id BIGINT, "
                     "o_orderkey BIGINT, o_custkey BIGINT, amount DOUBLE, "
                     "kind VARCHAR)")
        self.tally: Dict[str, List[int]] = {}
        self.batch = 0

    def extra_remote(self):
        return (TALLY_TABLE,)

    def _count(self, kind: str, lo: int, n: int) -> None:
        t = self.tally.setdefault(kind, [0, 0])
        t[0] += n
        t[1] += n * lo + n * (n - 1) // 2       # sum(range(lo, lo + n))

    def make_op(self, rng, i):
        k = i % 4
        n = rng.randint(50, 150)
        if k == 0:
            return {"kind": "insert_df", "n": n,
                    "lo": rng.randrange(10 ** 6)}
        if k == 2:
            return {"kind": "insert_select", "n": n,
                    "lo": rng.randrange(datagen.N_ORDERS - n)}
        return {"kind": "read", "sql": TALLY_READ}

    def run_op(self, op):
        self.batch += 1
        kind, n, lo = op["kind"], op.get("n"), op.get("lo")
        if kind == "insert_df":
            df = self.spark.range(lo, lo + n).selectExpr(
                f"CAST({self.batch} AS BIGINT) AS batch_id",
                "id AS o_orderkey", "id % 15000 AS o_custkey",
                "CAST(id AS DOUBLE) * 0.5 AS amount", "'df' AS kind")
            out = self.engine.insert_into(TALLY_TABLE, df)
            self._count("df", lo, n)
            return out
        if kind == "insert_select":
            out = self.engine.sql(
                f"INSERT INTO {TALLY_TABLE} SELECT {self.batch} AS batch_id, "
                "o_orderkey, o_custkey, o_totalprice AS amount, "
                f"'sel' AS kind FROM orders WHERE o_orderkey >= {lo} "
                f"AND o_orderkey < {lo + n}")
            self._count("sel", lo, n)
            return out
        op["expect"] = sorted((k, v[0], v[1]) for k, v in self.tally.items())
        return super().run_op(op)

    def check(self, done, rng):
        bad = []
        for i, d in enumerate(done):
            if "rows" not in d:
                continue            # raised: already counted as failed
            if d["op"]["kind"] == "read":
                ok = sorted(d["rows"]) == d["op"]["expect"]
            else:
                ok = d["rows"] == d["op"]["n"]
            if not ok:
                bad.append(i)
        return bad


def shingles(text: str, n: int = DEDUP_SHINGLE_N) -> frozenset:
    """Word n-gram set of normalized text (dedup.word_shingles' rule)."""
    words = " ".join(text.lower().split()).split(" ")
    if len(words) < n:
        return frozenset([" ".join(words)])
    return frozenset(" ".join(words[j:j + n])
                     for j in range(len(words) - n + 1))


def jaccard(a: frozenset, b: frozenset) -> float:
    return len(a & b) / len(a | b)


class CorpusDedup(Workload):
    name = "corpus_dedup"
    warmup_ops = 2

    def __init__(self, data_dir) -> None:
        import pyarrow.parquet as pq
        super().__init__(data_dir)
        self.docs = pq.read_table(self.path("documents"),
                                  columns=["doc_id", "text"]).to_pylist()

    def setup(self, spark) -> None:
        self.spark = spark

    def make_op(self, rng, i):
        batch = rng.sample(self.docs, DEDUP_BATCH)
        ids = [d["doc_id"] for d in batch]
        texts = [d["text"] for d in batch]
        for j, d in enumerate(rng.sample(batch, DEDUP_PLANTED)):
            if j % 2 == 0:
                copy = f"{d['text']} {datagen.DUP_WORD}"
            else:
                rate = rng.uniform(*DEDUP_EDIT_RATE)
                copy = " ".join(rng.choice(datagen.VOCAB)
                                if rng.random() < rate else w
                                for w in d["text"].split())
            ids.append(10 ** 7 + i * 1000 + j)
            texts.append(copy)
        return {"ids": ids, "texts": texts}

    def run_op(self, op):
        import pyarrow as pa
        from datafusion_federation_spark.operators import dedup, text
        df = self.spark.createDataFrame(
            pa.table({"doc_id": pa.array(op["ids"], pa.int64()),
                      "text": pa.array(op["texts"], pa.string())}))
        with self.span("operators.minhash_dedup"):
            pairs_df = dedup.minhash_dedup_pairs(
                df, "text", "doc_id", threshold=DEDUP_THRESHOLD,
                shingle_n=DEDUP_SHINGLE_N)
            with self.span("spark.collect"):
                pairs = [tuple(r) for r in pairs_df.collect()]
        with self.span("operators.quality_features"):
            feats_df = text.quality_features(df, "text").select(
                "doc_id", "n_tokens")
            with self.span("spark.collect"):
                feats = [tuple(r) for r in feats_df.collect()]
        op["df"] = df
        return {"pairs": pairs, "feats": feats}

    def check(self, done, rng):
        return [i for i, d in enumerate(done)
                if "rows" in d and not self.batch_ok(d["op"], d["rows"])]

    @staticmethod
    def batch_ok(op, out) -> bool:
        text_of = dict(zip(op["ids"], op["texts"]))
        sh = {k: shingles(v) for k, v in text_of.items()}
        for a, b, reported in out["pairs"]:
            exact = jaccard(sh[a], sh[b])
            if exact < DEDUP_THRESHOLD or abs(exact - reported) > 1e-5:
                return False
        found = {frozenset(p[:2]) for p in out["pairs"]}
        truth = similar_pairs(sh, RECALL_JACCARD)
        if sum(p in found for p in truth) < RECALL_FLOOR * len(truth):
            return False
        tokens = dict(out["feats"])
        return (len(tokens) == len(text_of) and
                all(tokens[k] == len(v.split()) for k, v in text_of.items()))


def similar_pairs(sh: Dict[Any, frozenset], least: float) -> set:
    """Every pair of keys whose shingle sets have Jaccard >= ``least``,
    counted through an inverted index (only pairs sharing a shingle)."""
    owners: Dict[str, list] = {}
    for k, s in sh.items():
        for g in s:
            owners.setdefault(g, []).append(k)
    shared: Counter = Counter()
    for ks in owners.values():
        shared.update(itertools.combinations(ks, 2))
    return {frozenset(p) for p, c in shared.items()
            if c >= least * (len(sh[p[0]]) + len(sh[p[1]]) - c)}


WORKLOADS = {w.name: w for w in (RemoteAdhoc, SplitJoin, Writeback,
                                 CorpusDedup)}
