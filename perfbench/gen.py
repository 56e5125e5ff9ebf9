"""Seeded input generator for the benchmark (numpy draws, DuckDB writes).

The benchmark may read nothing outside its checkout, so the sf0.1-shaped
base corpus is drawn here from the seed with the sf0.1 test fixture's
measured statistics instead of being read from the fixture:

- documents (5,000 in the fixture): 10-99 words each drawn uniformly from
  the fixture's 30-word vocabulary, lang en/zh/es/fr/de at 41/15/15/15/14 %,
  source ``src<doc_id % 20>``; ~5 % of docs are an earlier doc's text plus
  `` dup`` (near-duplicates) and ~0.2 % repeat an earlier doc verbatim.
- embeddings (2,000 in the fixture): unit-norm float32 vectors of
  dimension 64, label 0-9.

The base is then amplified ``copies`` times the way ``bench/sf1_spot.py``
does (doc_id offset per copy, a per-copy word prefix so copies share no
shingles, embeddings rotated per copy), except that the seed chooses each
copy's offset and prefix.  Stream slices are cut by event-time quantile
from the oracle's ``duck_sequences_cte`` over the amplified documents, so
the streaming input does not depend on the Spark code under test.

Output per (seed, sizes) goes to one directory and is reused; ``_SUCCESS``
is written strictly after the last file, so a torn directory is rebuilt.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np

WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
BASE_DOCS = 5_000
BASE_VECS = 2_000
DIM = 64
COPY_STRIDE = 100_000  # doc_id / vec_id stride between copies
NEAR_DUP_P = 0.05
EXACT_DUP_P = 0.002


def _base_documents(rng: np.random.Generator, n_docs: int):
    import pyarrow as pa

    texts: list[str] = []
    for i in range(n_docs):
        u = rng.random()
        if i > 0 and u < EXACT_DUP_P:
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 0 and u < EXACT_DUP_P + NEAR_DUP_P:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n = int(rng.integers(10, 100))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), n)))
    langs = rng.choice(LANGS, size=n_docs, p=LANG_P)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": texts,
            "lang": langs.tolist(),
            "source": [f"src{i % 20}" for i in range(n_docs)],
        }
    )


def _base_embeddings(rng: np.random.Generator, n_vecs: int):
    import pyarrow as pa

    v = rng.standard_normal((n_vecs, DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
            "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_vecs).astype(np.int32)),
        }
    )


def _copy_table(rng: np.random.Generator, copies: int, n_docs: int):
    """(k, id offset, word prefix) per copy; copy 0 is the base itself."""
    import pyarrow as pa

    offs = [0] + [
        k * COPY_STRIDE + int(rng.integers(0, COPY_STRIDE - n_docs))
        for k in range(1, copies)
    ]
    letters = "bcdfghjkmnpqrstvwxz"
    prefixes = [""] + [
        "".join(letters[j] for j in rng.integers(0, len(letters), 2)) + str(k)
        for k in range(1, copies)
    ]
    return pa.table({"k": list(range(copies)), "off": offs, "prefix": prefixes})


def _write_slices(con, out_dir: str, n_slices: int) -> None:
    """One parquet file per event-time slice of the oracle-derived sequences,
    with strictly increasing mtimes (the file source replays by mtime)."""
    from spatialflink_spark.sources.sequences import duck_sequences_cte

    con.execute(
        f"CREATE TEMP TABLE seqs AS WITH {duck_sequences_cte()} "
        "SELECT doc_id, seq_no, tokens, n_tok, source, ts_s FROM sequences"
    )
    qs = [i / n_slices for i in range(1, n_slices)]
    cuts = con.execute(
        f"SELECT quantile_disc(ts_s, {qs}) FROM seqs"
    ).fetchone()[0]
    bounds = sorted(set(cuts))
    edges = [None, *bounds, None]
    os.makedirs(out_dir, exist_ok=True)
    now = time.time()
    for i in range(len(edges) - 1):
        lo, hi = edges[i], edges[i + 1]
        cond = " AND ".join(
            c for c in (lo is not None and f"ts_s >= {lo}", hi is not None and f"ts_s < {hi}") if c
        ) or "TRUE"
        p = os.path.join(out_dir, f"batch_{i:04d}.parquet")
        con.execute(
            f"COPY (SELECT * FROM seqs WHERE {cond} ORDER BY ts_s, doc_id, seq_no) "
            f"TO '{p}' (FORMAT parquet)"
        )
        mt = now - 1000 + i
        os.utime(p, (mt, mt))


def generate(
    root: str, seed: int, copies: int, n_slices: int = 0,
    n_docs: int = BASE_DOCS, n_vecs: int = BASE_VECS,
) -> str:
    """Write (or reuse) the inputs: `copies` x a base of n_docs documents and
    n_vecs embeddings, cut into n_slices stream slices when n_slices > 0.
    Returns the input dir (an sf-dir: documents.parquet, embeddings.parquet,
    slices/)."""
    import duckdb

    out = os.path.join(root, f"s{seed}-d{n_docs}-v{n_vecs}-x{copies}-n{n_slices}")
    marker = os.path.join(out, "_SUCCESS")
    if os.path.exists(marker):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    rng = np.random.default_rng(seed)
    base_docs = _base_documents(rng, n_docs)
    base_emb = _base_embeddings(rng, n_vecs)
    copy_tab = _copy_table(rng, copies, n_docs)
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 4")
        con.register("base_docs", base_docs)
        con.register("base_emb", base_emb)
        con.register("copy_tab", copy_tab)
        con.execute(
            f"""COPY (
  SELECT d.doc_id + c.off AS doc_id, t.text, d.lang, d.source,
         CAST(length(t.text) AS BIGINT) AS n_chars
  FROM base_docs d CROSS JOIN copy_tab c,
  LATERAL (SELECT CASE WHEN c.k = 0 THEN d.text
                       ELSE regexp_replace(d.text, '([A-Za-z0-9]+)', c.prefix || '\\1', 'g')
                  END AS text) t
  ORDER BY c.k, d.doc_id
) TO '{out}/documents.parquet' (FORMAT parquet)"""
        )
        con.execute(
            f"""COPY (
  SELECT e.vec_id + c.k * {COPY_STRIDE} AS vec_id,
         CASE WHEN c.k = 0 THEN e.embedding
              ELSE e.embedding[CAST(c.k AS INT) + 1:] || e.embedding[:CAST(c.k AS INT)]
         END AS embedding,
         e.label
  FROM base_emb e CROSS JOIN copy_tab c
  ORDER BY c.k, e.vec_id
) TO '{out}/embeddings.parquet' (FORMAT parquet)"""
        )
        if n_slices:
            con.execute(
                f"CREATE VIEW documents AS SELECT * FROM read_parquet('{out}/documents.parquet')"
            )
            _write_slices(con, os.path.join(out, "slices"), n_slices)
    finally:
        con.close()
    with open(marker, "w") as f:
        f.write("ok\n")
    return out
