"""Seeded tables for the frame-queries workload, and the DuckDB oracle check.

The tables are the two the workload's query reads, documents and
embeddings, with the schemas the declared queries expect.
`check` compares each query's Spark output with its declared oracle SQL run
by DuckDB on the same files: columns sorted by name, floats rounded to 6
places, rows in order.
"""
import glob
import json
import math
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("join hash row batch scan column customer filter small slow fast key agg table "
         "value part merge a the line sort window spark shuffle stage task plan cache "
         "index chunk zone").split()
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.15, 0.14, 0.14, 0.13]
N_DOCS, N_EMB, EMB_DIM = 200, 200, 64


def generate(out_dir, seed):
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    texts = [" ".join(rng.choice(WORDS, int(n))) for n in rng.integers(8, 90, N_DOCS)]
    tables = {"documents": pa.table({
        "doc_id": np.arange(N_DOCS, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, N_DOCS, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(N_DOCS)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })}
    labels = rng.integers(0, 10, N_EMB)
    centers = rng.normal(size=(10, EMB_DIM))
    emb = centers[labels] + rng.normal(scale=1.0, size=(N_EMB, EMB_DIM))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = pa.table({
        "vec_id": np.arange(N_EMB, dtype=np.int64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))


def _norm(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype.kind == "f":
            df[c] = df[c].round(6)
    return df.reset_index(drop=True)


def _same(a, b):
    if a.dtype.kind == "f" or b.dtype.kind == "f":
        nan = a.apply(lambda x: isinstance(x, float) and math.isnan(x)) & \
            b.apply(lambda x: isinstance(x, float) and math.isnan(x))
        return ((a == b) | (a.isna() & b.isna()) | nan).all()
    return ((a == b) | (a.isna() & b.isna())).all()


def check(data_dir, out_dir):
    """Returns {query: None if it matches its oracle, else the reason}."""
    import duckdb

    con = duckdb.connect()
    for path in glob.glob(os.path.join(data_dir, "*.parquet")):
        name = os.path.basename(path)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    result = {}
    for name, sql in sorted(oracle.items()):
        files = sorted(glob.glob(os.path.join(out_dir, name, "*.parquet")))
        try:
            if not files:
                raise ValueError("no spark output")
            got = _norm(con.execute(f"SELECT * FROM read_parquet({files!r})").fetchdf())
            want = _norm(con.execute(sql).fetchdf())
            if list(got.columns) != list(want.columns):
                raise ValueError(f"columns {list(got.columns)} != {list(want.columns)}")
            if len(got) != len(want):
                raise ValueError(f"rows {len(got)} != {len(want)}")
            bad = [c for c in got.columns if not _same(got[c], want[c])]
            result[name] = f"column {bad[0]} differs" if bad else None
        except Exception as e:  # noqa: BLE001 - any failure is a wrong answer
            result[name] = str(e)[:200]
    return result
