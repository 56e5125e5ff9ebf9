"""sf1 spot check — 10x scale evidence for the most expensive gate queries.

The driver ships fixtures up to sf0.1; a plan that's fine at 180k rows can
hide quadratic candidate growth (exactly the failure mode bench.py's knn_unbounded note
predicts for the no-prune kNN baseline). This script deterministically
amplifies the sf0.1 fixture 10x and times the heavyweight queries at both
scales, so BENCH.md can carry a measured "sf1 spot check" row.

Amplification (DuckDB, deterministic, no RNG):
- documents: 10 copies, doc_id += k*100000; for copy k > 0 every word gets a
  per-copy prefix, so texts across copies share NO shingles — the near-dup
  structure per copy is identical to sf0.1 and dedup outputs scale ~10x
  linearly (without the prefix, 10 verbatim copies would create 45 true
  duplicate pairs per doc and the experiment would measure the data change,
  not the plan's scaling).
- embeddings: 10 copies, vec_id += k*100000, embedding rotated by k
  positions (norms preserved, no duplicate vectors). NOTE the batch-ANN
  query TABLE also grows 10x (vec_id % 41), so cosine_topk_batch work grows
  ~100x by construction (|Q| x n) — reported separately, not a plan defect.

Usage: python bench/sf1_spot.py [out_dir]   (default /tmp/sfs_sf1)
Prints one timing table; each query best-of-2 like bench.py.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

SRC = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
COPIES = 10
OFF = 100_000

# the most expensive r3/r4 gate queries + the new round-4 ops
QUERIES = [
    "stream_decon_e2e",
    "stream_knn_e2e",
    "stream_mix_e2e",
    "stream_vocab_e2e",
    "dedup_components_star",
    "dedup_components",
    "dedup_ngram_jaccard",
    "knn_unbounded_pruned",
    "range_prefix_counts",
    "simhash_dup_pairs",
    "simhash_wide_dup_pairs",
    # the composed near-dup decision + full curation pipeline: added after
    # the round-5 probe caught plain propagation overrunning its round cap
    # on a diameter-32 chain here (fixed: star form) — keep them tripwired
    "dedup_components_wide",
    "curation_pipeline",
    "cosine_topk_batch",
    "cosine_topk_batch_ann",
    "cosine_topk_ivf_kmeans",
    "cosine_topk_batch_kmeans",
    "token_freq_topk",
    "source_length_quantiles",
    "pack_bins_emit",
    "geomcollection_join",
    # round-5 curation additions — dedup_keep_best composes the same
    # component kernel the round-5 probe crash-tested; the others verify
    # the doc_id/gram-keyed shuffles and two-stage cuts stay linear
    "doc_repetition",
    "token_diversity",
    "boilerplate_ngrams",
    "quality_topk_per_source",
    "shard_assign",
    "dedup_keep_best",
    "quality_filter",
    "span_dedup",
    "tfidf_terms",
    "source_overlap",
    "source_vocab_divergence",
    "kmeans_purity",
    "dedup_size_histogram",
    "vocab_growth",
    "length_quality_corr",
    # final round-5 additions — pii_redact/unigram_rarity verify the
    # per-row regex and vocab-broadcast shuffles stay linear;
    # semantic_dedup runs with the gate's FIXED n_centroids=8, so its
    # within-cluster pair stage grows ~100x at 10x data BY CONSTRUCTION
    # (production scales n_centroids with the corpus — the row documents
    # the fixed-k operating point, not a plan defect)
    "pii_redact",
    "unigram_rarity",
    "semantic_dedup",
    # bigram relation is support-pruned before joins; verifies the encoded
    # single-bigint bigram shuffle stays linear in token volume
    "bigram_lift",
    # composes the verdict pass + wide-pair kernel + regex pass; tracks
    # their combined scaling
    "source_card",
    # bucket-bounded broadcast ratio joins; verifies the hashed-feature
    # shuffles stay linear
    "dsir_importance",
    # per-row encode + broadcast table lookups; Lloyd fit dominates
    "pq_topk_adc",
    # closing round-5 retrieval/bucket additions — bm25's candidate volume
    # is |Q| x matched-posting-list length; the amplifier's per-copy word
    # prefix keeps each copy's query terms matching only that copy's
    # postings, so the candidate volume scales ~10x linearly here (unlike
    # cosine_topk_batch, where every query scores every vector);
    # ccnet_buckets verifies the grid-bounded tertile stays linear
    "bm25_topk",
    "rrf_fusion",
    "ccnet_buckets",
    # anti-join of the two bounded rank lists; tracks the rankers' scaling
    "hard_negatives",
    # recall join over two bounded rank lists; tracks the batch rankers
    "ann_recall",
    # one mass agg + broadcast rate join + LCG filter — linear by shape
    "temperature_mix",
    # sixth streaming path: same stateless broadcast filter as stream_mix
    "stream_tmix_e2e",
    # rides the banded pair kernel UNTHRESHOLDED — tracks candidate volume
    "lsh_calibration",
    # closing round-5 additions — bigram_fluency's c_ab join is keyed on
    # the encoded bigram (linear in token volume); prototypicality rides
    # the Lloyd kernel + one cid-partitioned rank window; the bloom decon
    # gate verifies the bitset pass + candidate-only verify stays linear;
    # the PQ batch family's candidate volume is |Q| x n like
    # cosine_topk_batch (each pair m lookups instead of d multiplies);
    # stream_neardup_e2e is the windowed-agg streaming face of the wide
    # fingerprint
    "bigram_fluency",
    "prototypicality",
    "decontaminate_bloom",
    "pq_topk_batch",
    "l2_topk_batch",
    "pq_batch_recall",
    "stream_neardup_e2e",
    # one map-side sketch groupBy + the exact-distinct calibration shuffle
    "cardinality_kmv",
    # per-row codegen: word-boundary IN-set count / slice+checksum explode
    "blocklist_filter",
    "chunk_documents",
    # 6 rounds x (pair-count shuffle + per-row merge fold) — linear/round
    "bpe_merges",
    # eighth streaming path: stateless per-row slicing + windowed agg
    "stream_chunk_e2e",
    # broadcast-argmin assignment + doc-keyed quality join, n_centroids rows
    "cluster_quality_profile",
]

# optional subset: SFS_ONLY=a,b,c runs just those queries (re-measuring a
# targeted set without paying the full ~15-min sweep)
_only = os.environ.get("SFS_ONLY")
if _only:
    _sel = [q.strip() for q in _only.split(",") if q.strip()]
    _bad = set(_sel) - set(QUERIES)
    if _bad:
        raise SystemExit(f"SFS_ONLY names not in the spot list: {sorted(_bad)}")
    QUERIES = _sel


def amplify(out_dir: str) -> None:
    import duckdb

    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    con.execute(f"""
COPY (
  SELECT d.doc_id + k.k * {OFF} AS doc_id,
         CASE WHEN k.k = 0 THEN d.text
              ELSE regexp_replace(d.text, '([A-Za-z0-9]+)', 'q' || k.k || '\\1', 'g')
         END AS text,
         d.lang, d.source, d.n_chars
  FROM read_parquet('{SRC}/documents.parquet') d
  CROSS JOIN (SELECT unnest(range(0, {COPIES})) AS k) k
) TO '{out_dir}/documents.parquet' (FORMAT parquet)
""")
    con.execute(f"""
COPY (
  SELECT e.vec_id + k.k * {OFF} AS vec_id,
         CASE WHEN k.k = 0 THEN e.embedding
              ELSE e.embedding[CAST(k.k AS INT) + 1:] || e.embedding[:CAST(k.k AS INT)]
         END AS embedding,
         e.label
  FROM read_parquet('{SRC}/embeddings.parquet') e
  CROSS JOIN (SELECT unnest(range(0, {COPIES})) AS k) k
) TO '{out_dir}/embeddings.parquet' (FORMAT parquet)
""")
    # events are not used by any query in the spot list; copy verbatim so
    # the directory is a complete sf-dir for the gate helpers
    con.execute(
        f"COPY (SELECT * FROM read_parquet('{SRC}/events.parquet')) "
        f"TO '{out_dir}/events.parquet' (FORMAT parquet)"
    )


def main() -> None:
    out_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sfs_sf1"
    # _SUCCESS marker written strictly AFTER the last COPY: file-existence
    # checks alone cannot distinguish a complete last file from a torn one
    # (a crash mid-COPY into events.parquet would otherwise be reused
    # forever)
    marker = f"{out_dir}/_SUCCESS"
    if not os.path.exists(marker):
        amplify(out_dir)
        with open(marker, "w") as f:
            f.write("ok\n")
    from spatialflink_spark.session import get_spark
    import __spark_entry__ as entrymod

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark("sfs-sf1-spot", cores=cpus, shuffle_partitions=max(cpus, 32))
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    qs["range_tumbling_count"](spark, out_dir).count()  # warm-up

    rows = {}
    for name in QUERIES:
        times = {}
        for sf_name, sf_dir in (("sf0.1", SRC), ("sf1", out_dir)):
            best = None
            for _ in range(2):
                t0 = time.time()
                qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
                wall = time.time() - t0
                best = wall if best is None else min(best, wall)
                spark.catalog.clearCache()
                # let the ContextCleaner reclaim localCheckpoint blocks
                # (clearCache alone leaves them pinned until Python GC)
                import gc

                gc.collect()
            times[sf_name] = round(best, 2)
        times["ratio"] = round(times["sf1"] / max(times["sf0.1"], 1e-9), 1)
        rows[name] = times
        print(name, times, flush=True)
    print(json.dumps({"sf1_spot": rows}))


if __name__ == "__main__":
    main()
