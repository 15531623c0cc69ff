"""The analysts' registry batch, run between the sync calls of
``sync_ingest``.

Set-up writes a small seeded corpus in the layout ``io.table`` reads, one
``<table>.parquet`` per table: TPC-H-like relational tables, documents,
embeddings and events, shaped like the engine's test data at its
smallest scale. An op runs one registry query to the noop sink, as
``bench.py`` does; one query per module family of ``operators/`` and
``functions/`` is used. The corpus is the same on every run, as the
engine's test data is; the run's seed sets the order of the queries. Results are compared with each query's registry oracle, run in
DuckDB over the same files.
"""

from __future__ import annotations

import math
import random
from datetime import datetime, timedelta

import duckdb
import numpy as np
import pandas as pd

# one query per family: joins, windows, sorts, aggregates (operators/),
# exact dedup, text features, similarity (functions/). None of them
# stages an intermediate, so warm runs recompute everything.
QUERY_NAMES = ("q5_revenue_by_nation", "w1_argmax_exclusion",
               "o1_o2_pagination_topk", "a4_a5_report_stats", "dd_exact",
               "tx_text_features", "knn_cosine_topk")
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "documents", "embeddings", "events")
N_ORDERS, N_CUSTOMERS, N_PARTS, N_SUPPLIERS = 1500, 150, 200, 10
N_DOCS, N_VECS, DIM, N_EVENTS = 500, 500, 64, 1000
CORPUS_SEED = 42
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
WORDS = ("the a and of is spark group query row data slow small filter "
         "customer line batch value merge table join agg sort part column "
         "key fast order scan hash window stream vector big dup").split()


def write_corpus(out_dir: str, seed: int) -> None:
    """Write every table of the corpus under ``out_dir``."""
    rng = random.Random(seed)
    npr = np.random.default_rng(seed)
    day0 = datetime(1995, 1, 1)
    t = {}
    t["region"] = pd.DataFrame({
        "r_regionkey": np.arange(5, dtype="int32"), "r_name": REGIONS})
    t["nation"] = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype="int32"),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": np.arange(25, dtype="int32") % 5})
    t["customer"] = pd.DataFrame({
        "c_custkey": np.arange(N_CUSTOMERS, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMERS)],
        "c_nationkey": np.array([rng.randrange(25) for _ in
                                 range(N_CUSTOMERS)], dtype="int32"),
        "c_acctbal": [round(rng.uniform(-999, 9999), 2)
                      for _ in range(N_CUSTOMERS)],
        "c_mktsegment": [rng.choice(SEGMENTS) for _ in range(N_CUSTOMERS)]})
    t["supplier"] = pd.DataFrame({
        "s_suppkey": np.arange(N_SUPPLIERS, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIERS)],
        "s_nationkey": np.array([rng.randrange(25) for _ in
                                 range(N_SUPPLIERS)], dtype="int32"),
        "s_acctbal": [round(rng.uniform(-999, 9999), 2)
                      for _ in range(N_SUPPLIERS)]})
    t["part"] = pd.DataFrame({
        "p_partkey": np.arange(N_PARTS, dtype="int64"),
        "p_name": [f"{rng.choice(('cold', 'small', 'big'))} widget"
                   for _ in range(N_PARTS)],
        "p_brand": [f"Brand#{rng.randint(1, 55)}" for _ in range(N_PARTS)],
        "p_type": [rng.choice(("ECONOMY", "STANDARD", "PROMO"))
                   for _ in range(N_PARTS)],
        "p_size": np.array([rng.randint(1, 50) for _ in range(N_PARTS)],
                           dtype="int32"),
        "p_retailprice": [round(900 + i * 0.1, 2) for i in range(N_PARTS)]})
    orders, items = [], []
    for o in range(N_ORDERS):
        date = day0 + timedelta(days=rng.randrange(2400))
        orders.append((o, rng.randrange(N_CUSTOMERS),
                       rng.choice("FOP"), round(rng.uniform(1000, 5e5), 2),
                       date, rng.choice(PRIORITIES)))
        for line in range(1, rng.randint(1, 7) + 1):
            qty = float(rng.randint(1, 50))
            items.append((
                o, rng.randrange(N_PARTS), rng.randrange(N_SUPPLIERS), line,
                qty, round(qty * rng.uniform(900, 2100), 2),
                rng.randint(0, 10) / 100, rng.randint(0, 8) / 100,
                rng.choice("ANR"), rng.choice("FO"),
                date + timedelta(days=rng.randint(1, 120))))
    t["orders"] = pd.DataFrame(orders, columns=[
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority"])
    t["lineitem"] = pd.DataFrame(items, columns=[
        "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate"])
    t["lineitem"]["l_linenumber"] = t["lineitem"]["l_linenumber"].astype(
        "int32")
    texts = []
    for _ in range(N_DOCS):
        if texts and rng.random() < 0.1:       # exact duplicates to find
            texts.append(rng.choice(texts))
        else:
            texts.append(" ".join(rng.choice(WORDS)
                                  for _ in range(rng.randint(8, 100))))
    t["documents"] = pd.DataFrame({
        "doc_id": np.arange(N_DOCS, dtype="int64"), "text": texts,
        "lang": [rng.choice(("en", "en", "de", "es", "fr", "zh"))
                 for _ in range(N_DOCS)],
        "source": [f"src{rng.randrange(20)}" for _ in range(N_DOCS)],
        "n_chars": np.array([len(x) for x in texts], dtype="int64")})
    centroids = npr.normal(0, 0.15, (10, DIM))
    labels = npr.integers(0, 10, N_VECS)
    vecs = (centroids[labels] + npr.normal(0, 0.08, (N_VECS, DIM))
            ).astype("float32")
    t["embeddings"] = pd.DataFrame({
        "vec_id": np.arange(N_VECS, dtype="int64"),
        "embedding": list(vecs), "label": labels.astype("int32")})
    ev0 = datetime(2024, 1, 1)
    t["events"] = pd.DataFrame({
        "event_id": np.arange(N_EVENTS, dtype="int64"),
        "ts": [ev0 + timedelta(seconds=37 * i + rng.randrange(30))
               for i in range(N_EVENTS)],
        "user_id": np.array([rng.randrange(20) for _ in range(N_EVENTS)],
                            dtype="int64"),
        "event_type": [rng.choice(("view", "click", "signup", "purchase",
                                   "error")) for _ in range(N_EVENTS)],
        "value": [round(rng.uniform(0, 200), 2) for _ in range(N_EVENTS)],
        "props": [f'{{"k": {rng.randrange(100)}}}' for _ in range(N_EVENTS)]})
    for name, df in t.items():
        for c in df.columns:
            if df[c].dtype.kind == "M":
                df[c] = df[c].astype("datetime64[us]")
        df.to_parquet(f"{out_dir}/{name}.parquet", index=False)


def _cell(v) -> str:
    """One result cell in a form both engines render alike."""
    if v is None or v is pd.NaT:
        return "<NULL>"
    if isinstance(v, (bool, np.bool_)):
        return str(bool(v))
    if isinstance(v, (float, np.floating)):
        return "<NULL>" if math.isnan(v) else repr(float(v))
    if isinstance(v, (int, np.integer)):
        return repr(float(v))
    if isinstance(v, pd.Timestamp):
        return v.isoformat()
    return str(v)


def canon(df: pd.DataFrame) -> list[tuple]:
    """Rows as sorted tuples of canonical cells, columns by name."""
    cols = sorted(df.columns)
    rows = [tuple(_cell(v) for v in r)
            for r in df[cols].itertuples(index=False, name=None)]
    return [tuple(cols)] + sorted(rows)


class Analytics:
    """The generated corpus, the query ops and their correctness check."""

    def __init__(self, spark, root: str, seed: int) -> None:
        import os

        from tmdb_sync_spark import all_queries  # noqa: F401 - registers
        from tmdb_sync_spark.registry import ORACLES, QUERIES

        self.spark = spark
        self.sf_dir = f"{root}/corpus"
        os.makedirs(self.sf_dir, exist_ok=True)
        self.seed = seed
        self.queries, self.oracles = QUERIES, ORACLES
        self.order = list(QUERY_NAMES)
        random.Random(seed).shuffle(self.order)
        self.results: dict[str, list] = {}
        write_corpus(self.sf_dir, CORPUS_SEED)

    def warm(self) -> None:
        """One run of each query, collected for the correctness check."""
        for name in self.order:
            self.results[name] = canon(
                self.queries[name](self.spark, self.sf_dir).toPandas())

    def run(self, name: str) -> None:
        """One query, computed in full and discarded by the noop sink."""
        self.queries[name](self.spark, self.sf_dir).write.format(
            "noop").mode("overwrite").save()

    def check(self) -> list[str]:
        """Every query's set-up result and one seeded query re-run after
        the window against its oracle over the same files."""
        again = random.Random(self.seed ^ 0xA7A).choice(self.order)
        got = dict(self.results)
        rerun = canon(self.queries[again](self.spark, self.sf_dir).toPandas())
        bad = []
        with duckdb.connect() as con:
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"read_parquet('{self.sf_dir}/{t}.parquet')")
            for name in self.order:
                want = canon(con.execute(self.oracles[name]).df())
                runs = [("set-up", got[name])]
                if name == again:
                    runs.append(("after window", rerun))
                for when, rows in runs:
                    if rows != want:
                        bad.append(f"query {name} ({when}): {len(rows) - 1} "
                                   f"rows != oracle {len(want) - 1} rows; "
                                   f"first spark {str(rows[1:2])[:200]} "
                                   f"oracle {str(want[1:2])[:200]}")
                if len(want) < 2:
                    bad.append(f"query {name}: oracle returns no rows")
        return bad
