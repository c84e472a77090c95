"""Seeded curation inputs and the DuckDB oracle check of curation results.

The tables have the shape of the engine's document and embedding fixtures:
`documents(doc_id, text, lang, source, n_chars)` with 5% near-duplicates
(another document's text plus " dup") and a few exact copies, and
`embeddings(vec_id, embedding float[64], label)` with unit vectors weakly
clustered by label.
"""
import glob
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small join filter big "
         "group hash customer sort order slow line part fast row the agg key query a scan "
         "batch").split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
DIM = 64


def generate(path, seed, docs, vectors):
    """Write documents.parquet and embeddings.parquet under `path` once."""
    ready = os.path.join(path, "_READY")
    if os.path.exists(ready):
        return
    os.makedirs(path, exist_ok=True)
    rng = np.random.default_rng(seed)
    lengths = rng.integers(10, 101, size=docs)
    texts = [" ".join(rng.choice(VOCAB, size=n)) for n in lengths]
    near = rng.choice(docs, size=docs // 20, replace=False)
    bases = [b for b in range(docs) if b not in set(near.tolist())]
    for d in near:
        texts[d] = texts[int(rng.choice(bases))] + " dup"
    for d in rng.choice(bases, size=max(1, docs // 600), replace=False):
        texts[int(rng.choice(bases))] = texts[d]
    doc_ids = np.arange(docs, dtype=np.int64)
    pq.write_table(pa.table({
        "doc_id": doc_ids,
        "text": texts,
        "lang": rng.choice(LANGS, p=LANG_P, size=docs).tolist(),
        "source": [f"src{d % 20}" for d in range(docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }), os.path.join(path, "documents.parquet"))

    labels = rng.integers(0, 10, size=vectors).astype(np.int32)
    centroids = rng.normal(size=(10, DIM)) * 0.6
    x = rng.normal(size=(vectors, DIM)) + centroids[labels]
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    pq.write_table(pa.table({
        "vec_id": np.arange(vectors, dtype=np.int64),
        "embedding": pa.array(list(x), type=pa.list_(pa.float32())),
        "label": labels,
    }), os.path.join(path, "embeddings.parquet"))
    open(ready, "w").close()


def digest(path):
    h = hashlib.sha256()
    for f in sorted(glob.glob(os.path.join(path, "*.parquet"))):
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


# Oracle types the result comparison cannot reconcile with Spark's
# int64/float64 output.
BAD_DUCK_TYPES = ("HUGEINT", "DECIMAL", "UHUGEINT")


def _kind(dtype):
    return "i" if dtype.kind in ("i", "u") else dtype.kind


def compare(oracle_df, spark_df):
    """None when equal under the correctness gate's rules, else a reason:
    columns sorted by name, rows sorted, equal row counts and dtype kinds,
    floats within rtol 1e-9 / atol 1e-12, everything else exact."""
    def norm(df):
        df = df.reindex(sorted(df.columns), axis=1)
        return df.sort_values(by=list(df.columns)).reset_index(drop=True)
    o, s = norm(oracle_df), norm(spark_df)
    if list(o.columns) != list(s.columns):
        return f"columns oracle={list(o.columns)} engine={list(s.columns)}"
    if len(o) != len(s):
        return f"rows oracle={len(o)} engine={len(s)}"
    for c in o.columns:
        if _kind(o[c].dtype) != _kind(s[c].dtype):
            return f"dtype of {c}: oracle={o[c].dtype} engine={s[c].dtype}"
        if o[c].dtype.kind == "f" or s[c].dtype.kind == "f":
            if not np.allclose(o[c].astype(float), s[c].astype(float),
                               rtol=1e-9, atol=1e-12, equal_nan=True):
                return f"values of {c} differ"
        elif not (o[c].astype(object) == s[c].astype(object)).all():
            return f"values of {c} differ"
    return None


def check(data_dir, out_dir, oracle_sql, queries, cache_dir):
    """One check per query: its engine output against DuckDB running the
    query's oracle SQL. Oracle results are cached by SQL text and input
    digest."""
    import duckdb
    import pandas as pd

    con = duckdb.connect()
    for name in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data_dir, name + '.parquet')}')")
    data_digest = digest(data_dir)
    os.makedirs(cache_dir, exist_ok=True)
    checks = []
    for q in queries:
        op = q["op"]
        sql = oracle_sql.get(q["name"])
        if sql is None:
            checks.append({"op": op, "ok": False, "detail": "no oracle SQL"})
            continue
        engine_dir = os.path.join(out_dir, "q", q["name"])
        if not glob.glob(os.path.join(engine_dir, "*.parquet")):
            checks.append({"op": op, "ok": False, "detail": "no engine output"})
            continue
        key = hashlib.sha256((sql + data_digest).encode()).hexdigest()[:32]
        cached = os.path.join(cache_dir, key + ".pkl")
        try:
            if os.path.exists(cached):
                odf = pd.read_pickle(cached)
            else:
                types = con.execute(f"DESCRIBE {sql}").fetchall()
                bad = [(t[0], t[1]) for t in types if t[1].upper().startswith(BAD_DUCK_TYPES)]
                if bad:
                    checks.append({"op": op, "ok": False, "detail": f"oracle types {bad}"})
                    continue
                odf = con.execute(sql).fetchdf()
                odf.to_pickle(cached)
        except Exception as e:  # an oracle that cannot run is a failed check
            checks.append({"op": op, "ok": False, "detail": f"oracle error: {e}"})
            continue
        sdf = pd.concat([pd.read_parquet(f) for f in
                         sorted(glob.glob(os.path.join(engine_dir, "*.parquet")))])
        why = compare(odf, sdf)
        checks.append({"op": op, "ok": why is None, "detail": why or f"{len(odf)} rows match"})
    return checks
