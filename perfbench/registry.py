"""The ``query_registry`` workload's inputs, queries and checks.

Inputs per seed: the five registry tables the chosen queries read
(``lineitem``, ``orders``, ``events``, ``documents``, ``embeddings``) at
the shape of the sf0.01 test tables, drawn with numpy from the seed. The
queries are a fixed subset of ``__spark_entry__.queries()`` that keeps
every operator family and only queries whose outputs hold no float
aggregate, so a result digest repeats exactly from run to run.
"""

from __future__ import annotations

import math
import os

import numpy as np

from common import DATA, digest

ROWS = {"lineitem": 60_000, "orders": 15_000, "events": 10_000,
        "documents": 500, "embeddings": 500}

# query -> (family, tables it reads); families name the module exercised.
# One query per family, two for e2_rows (keyword and JSON-payload compile
# paths), so that a run fits the benchmark's time budget. Each has a DuckDB
# twin in ``__spark_entry__.oracle_sql()`` that checks every execution.
QUERIES = {
    "row_checks_lineitem": ("e2_rows", ["lineitem"]),
    "json_payloads_events": ("e2_rows", ["events"]),
    "uniqueness_orders": ("table_checks", ["orders"]),
    "hamming_pairs_documents": ("dedup", ["documents"]),
    "cosine_topk_embeddings": ("similarity", ["embeddings"]),
    "decontam_documents": ("text", ["documents"]),
    "curate_documents": ("curate", ["documents"]),
    "sampling_documents": ("other", ["documents"]),
}
FAMILIES = ["e2_rows", "table_checks", "dedup", "similarity", "text", "curate", "other"]

_WORDS = ("a agg batch big column customer data dup fast filter group hash join key "
          "line merge order part query row scan slow small sort spark stream table "
          "the value vector window").split()


def rows_read_per_pass() -> int:
    return sum(ROWS[t] for _, tables in QUERIES.values() for t in tables)


def tables_for(seed: int) -> dict:
    """pandas frames of the five tables for ``seed``."""
    import pandas as pd

    rng = np.random.default_rng([seed, 11])
    t0 = np.datetime64("1995-01-01T00:00:00", "us")

    def days(n, span):
        return t0 + rng.integers(0, span, n).astype("timedelta64[D]").astype("timedelta64[us]")

    n = ROWS["lineitem"]
    lineitem = pd.DataFrame({
        "l_orderkey": rng.integers(0, ROWS["orders"], n),
        "l_partkey": rng.integers(0, 2000, n),
        "l_suppkey": rng.integers(0, 100, n),
        "l_linenumber": rng.integers(1, 8, n).astype("int32"),
        "l_quantity": rng.integers(1, 51, n).astype("float64"),
        "l_extendedprice": np.round(rng.uniform(900, 105_000, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n),
        "l_linestatus": rng.choice(["O", "F"], n),
        "l_shipdate": days(n, 2500),
    })
    n = ROWS["orders"]
    orders = pd.DataFrame({
        "o_orderkey": np.arange(n, dtype="int64"),
        "o_custkey": rng.integers(0, 1500, n),
        "o_orderstatus": rng.choice(["P", "O", "F"], n),
        "o_totalprice": np.round(rng.uniform(1000, 500_000, n), 2),
        "o_orderdate": days(n, 2400),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n),
    })
    n = ROWS["events"]
    events = pd.DataFrame({
        "event_id": np.arange(n, dtype="int64"),
        "ts": np.datetime64("2024-01-01T00:00:00", "us")
        + rng.integers(0, 30 * 86_400_000_000, n).astype("timedelta64[us]"),
        "user_id": rng.integers(0, 150, n),
        "event_type": rng.choice(["click", "signup", "error", "view", "purchase"], n),
        "value": np.round(np.minimum(rng.exponential(50.0, n), 490.0) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })
    n = ROWS["documents"]
    texts = [" ".join(rng.choice(_WORDS, int(k))) for k in rng.integers(10, 100, n)]
    documents = pd.DataFrame({
        "doc_id": np.arange(n, dtype="int64"),
        "text": texts,
        "lang": rng.choice(["en", "zh", "es", "de", "fr"], n, p=[0.44, 0.15, 0.15, 0.14, 0.12]),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    })
    n = ROWS["embeddings"]
    vecs = rng.normal(0.0, 1.0, (n, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    embeddings = pd.DataFrame({
        "vec_id": np.arange(n, dtype="int64"),
        "embedding": list(vecs.astype("float32")),
        "label": rng.integers(0, 10, n).astype("int32"),
    })
    return {"lineitem": lineitem, "orders": orders, "events": events,
            "documents": documents, "embeddings": embeddings}


def prepare(seed: int) -> str:
    """Write the seed's tables as parquet (once); returns their directory."""
    out = os.path.join(DATA, f"registry_s{seed}")
    if not os.path.exists(os.path.join(out, "_DONE")):
        os.makedirs(out, exist_ok=True)
        for name, df in tables_for(seed).items():
            df.to_parquet(os.path.join(out, f"{name}.parquet"), index=False)
        open(os.path.join(out, "_DONE"), "w").close()
    return out


def input_digest(sf_dir: str) -> str:
    import pandas as pd

    rows = []
    for t in sorted(ROWS):
        df = pd.read_parquet(os.path.join(sf_dir, f"{t}.parquet"))
        rows.append((t, str(pd.util.hash_pandas_object(df.astype(str), index=False).sum())))
    return digest(rows)


def _cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.9g}"
    return str(v)


def result_digest(columns: list[str], rows: list[tuple]) -> str:
    """Order-independent digest of a result: columns sorted by name, cells
    normalised as the oracle gate does, rows sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return digest([tuple(columns[i] for i in order)]
                  + [("row",) + tuple(_cell(r[i]) for i in order) for r in rows])


def oracle_digests(sf_dir: str) -> dict[str, str]:
    """Digests of the chosen queries' DuckDB twins."""
    import duckdb

    import __spark_entry__ as E

    oracles = E.oracle_sql()
    con = duckdb.connect()
    for t in ROWS:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    out = {}
    for name in QUERIES:
        res = con.sql(oracles[name])
        out[name] = result_digest([d[0] for d in res.description], res.fetchall())
    con.close()
    return out


def run_query(spark, sf_dir: str, name: str):
    """(result digest, the DataFrame) of one execution: build the query
    and collect its rows to the client."""
    import __spark_entry__ as E

    df = E.queries()[name](spark, sf_dir)
    rows = [tuple(r) for r in df.collect()]
    return result_digest(df.columns, rows), df


def exchanges(df) -> int:
    """Exchange operators in the physical plan (reused ones excluded), read
    from the formatted plan as ``tools/plan_audit.py`` does."""
    import re

    qe = df._jdf.queryExecution()
    txt = qe.explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    return sum(1 for ln in txt.splitlines()
               if re.search(r"\(\d+\) (Broadcast)?Exchange", ln) and "Reused" not in ln)
