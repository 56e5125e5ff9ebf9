"""Custom per-key stateful operators — applyInPandasWithState.

The three reference operators that have NO declarative Spark equivalent
(everything else in this engine, the streaming kNN included, is built-in
aggregation):

- tstats_stateful: per-trajectory running stats with the out-of-order drop
  guard — ValueState keyed by objID (tStats/TStatsQuery.java:44-145, guard
  at :118). State: (last_ts, last_n_tok, cum_len, cum_dt, n_seen, n_accepted).
- taggregate_stateful: per-cell MapState{doc -> (minTs, maxTs)} heatmap with
  idle-key eviction (tAggregate/TAggregateQuery.java:53-377; lazy delete at
  :367-376). The reference evicts on wall-clock; we use the deterministic
  event-time timeout (GroupStateTimeout) per SURVEY.md §4.
- count_windows: per-key count windows, tumbling AND sliding
  (countWindow(size[, slide]), PointTAggregateQuery.java:83-89) — no SS
  primitive exists, so the state carries a per-key arrival counter plus a
  ring buffer of the last `size` values.

All three receive Arrow record batches per key group (vectorized transfer);
the per-key python work is O(rows in batch) numpy/pandas ops, not per-row
interpretation of the whole stream.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


TSTATS_STATE = "last_ts long, last_nt int, cum_len long, cum_dt long, n_seen long, n_acc long"
TSTATS_OUT = (
    "doc_id bigint, n_seen bigint, n_accepted bigint, cum_len bigint, "
    "cum_dt bigint, rate_milli bigint"
)


def _tstats_fn(key, pdf_iter, state: GroupState):
    import numpy as np

    (doc_id,) = key
    if state.exists:
        last_ts, last_nt, cum_len, cum_dt, n_seen, n_acc = state.get
    else:
        last_ts, last_nt, cum_len, cum_dt, n_seen, n_acc = -1, 0, 0, 0, 0, 0
    for pdf in pdf_iter:
        pdf = pdf.sort_values(["seq_no"])  # arrival order within the batch
        ts = pdf["ts_s"].to_numpy(dtype="int64")
        nt = pdf["n_tok"].to_numpy(dtype="int64")
        n_seen += len(ts)
        # out-of-order drop guard (TStatsQuery.java:118), vectorized: a row
        # is accepted iff its ts strictly exceeds the running max of all
        # PRIOR rows (rejected rows never raise the max, so cummax over all
        # rows equals cummax over accepted ones — the greedy chain)
        prev_max = np.maximum.accumulate(np.concatenate(([last_ts], ts)))[:-1]
        keep = ts > prev_max
        kts, knt = ts[keep], nt[keep]
        if len(kts):
            if n_acc > 0:  # seed the diff chain with the carried last point
                kts = np.concatenate(([last_ts], kts))
                knt = np.concatenate(([last_nt], knt))
            cum_len += int(np.abs(np.diff(knt)).sum())
            cum_dt += int(np.diff(kts).sum())
            n_acc += int(keep.sum())
            last_ts, last_nt = int(kts[-1]), int(knt[-1])
    state.update((last_ts, last_nt, cum_len, cum_dt, n_seen, n_acc))
    rate = int(1000 * cum_len / cum_dt) if cum_dt > 0 else 0
    yield pd.DataFrame(
        [
            {
                "doc_id": doc_id,
                "n_seen": n_seen,
                "n_accepted": n_acc,
                "cum_len": cum_len,
                "cum_dt": cum_dt,
                "rate_milli": rate,
            }
        ]
    )


def tstats_stateful(stream: DataFrame) -> DataFrame:
    """Running per-doc stats, one updated row per key per micro-batch
    (update semantics, like the reference's emit-per-element RT path)."""
    from spatialflink_spark.session import ensure_pyfiles

    ensure_pyfiles(stream.sparkSession)
    return (
        stream.select("doc_id", "seq_no", "n_tok", "ts_s")
        .groupBy("doc_id")
        .applyInPandasWithState(
            _tstats_fn,
            outputStructType=TSTATS_OUT,
            stateStructType=TSTATS_STATE,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


HEATMAP_STATE = "docs map<string, array<long>>"
HEATMAP_OUT = "cell int, n_docs bigint, sum_len bigint, min_len bigint, max_len bigint"


def make_heatmap_fn(idle_evict_s: int | None):
    def _heatmap_fn(key, pdf_iter, state: GroupState):
        (cell,) = key
        docs: dict[str, list[int]] = dict(state.get[0]) if state.exists else {}
        docs = {k: list(v) for k, v in docs.items()}
        for pdf in pdf_iter:
            # vectorized batch fold: per-doc (min, max) of the batch via one
            # pandas groupby, then one dict merge per DISTINCT doc — the
            # per-row Python loop only touched state transitions, but at
            # large per-key batches the interpreter cost per row adds up
            # (same honesty fix as _tstats_fn's numpy rewrite)
            # dropna=False: a null doc_id row previously folded under the
            # str(nan) state key; the vectorized fold must not silently
            # drop it (behavior pinned, not endorsed — upstream rows always
            # carry doc_id in practice)
            agg = pdf.groupby("doc_id", dropna=False)["ts_s"].agg(["min", "max"])
            for d, lo_new, hi_new in zip(
                agg.index.to_numpy(), agg["min"].to_numpy(), agg["max"].to_numpy()
            ):
                k = str(d)
                if k in docs:
                    lo, hi = docs[k]
                    docs[k] = [min(lo, int(lo_new)), max(hi, int(hi_new))]
                else:
                    docs[k] = [int(lo_new), int(hi_new)]
        # idle-trajectory eviction (TAggregateQuery.java:367-376), made
        # deterministic: the reference uses WALL-CLOCK idle time; we evict on
        # EVENT-TIME idleness vs the watermark (SURVEY.md §4 decision).
        if idle_evict_s is not None:
            wm_s = state.getCurrentWatermarkMs() // 1000
            if wm_s > 0:
                docs = {
                    k: v for k, v in docs.items() if v[1] >= wm_s - idle_evict_s
                }
        state.update((docs,))
        lens = [hi - lo for lo, hi in docs.values()]
        yield pd.DataFrame(
            [
                {
                    "cell": cell,
                    "n_docs": len(lens),
                    "sum_len": sum(lens),
                    "min_len": min(lens) if lens else 0,
                    "max_len": max(lens) if lens else 0,
                }
            ]
        )

    return _heatmap_fn


def heatmap_stateful(
    stream_with_cell: DataFrame, idle_evict_s: int | None = None
) -> DataFrame:
    """TAggregate RT analog: per-cell live map of doc -> (minTs, maxTs),
    re-aggregated on every batch (TAggregateQuery.java:53-377); docs idle
    longer than `idle_evict_s` of event time (vs the watermark) are dropped
    from state — bounded state at 10^12-sequence scale."""
    from spatialflink_spark.session import ensure_pyfiles

    ensure_pyfiles(stream_with_cell.sparkSession)
    return (
        # keep the watermarked event_ts column through the select — dropping
        # it detaches the watermark and getCurrentWatermarkMs() throws
        stream_with_cell.select("cell", "doc_id", "ts_s", "event_ts")
        .groupBy("cell")
        .applyInPandasWithState(
            make_heatmap_fn(idle_evict_s),
            outputStructType=HEATMAP_OUT,
            stateStructType=HEATMAP_STATE,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


CW_STATE = "cnt long, buf array<long>"
CW_OUT = (
    "doc_id bigint, win_id bigint, n_rows bigint, sum_n_tok bigint, "
    "min_n_tok bigint, max_n_tok bigint"
)


def make_count_window_fn(size: int, slide: int):
    """countWindow(size, slide) semantics (Flink CountTrigger + CountEvictor,
    PointTAggregateQuery.java:83-89): the window FIRES every `slide` arrivals
    and its contents are the LAST min(size, seen) elements — overlapping when
    slide < size, tumbling when slide == size (first fire at cnt == slide,
    so the tumbling case always has exactly `size` rows). State = arrival
    counter + ring buffer of the last `size` values (bounded per key)."""

    def _fn(key, pdf_iter, state: GroupState):
        (doc_id,) = key
        if state.exists:
            cnt, buf = state.get
            buf = list(buf)
        else:
            cnt, buf = 0, []
        out = []
        for pdf in pdf_iter:
            pdf = pdf.sort_values(["seq_no"])
            for nt in pdf["n_tok"].to_numpy():
                cnt += 1
                buf.append(int(nt))
                if len(buf) > size:
                    buf.pop(0)
                if cnt % slide == 0:  # window fires
                    out.append(
                        {
                            "doc_id": doc_id,
                            "win_id": cnt // slide - 1,
                            "n_rows": len(buf),
                            "sum_n_tok": sum(buf),
                            "min_n_tok": min(buf),
                            "max_n_tok": max(buf),
                        }
                    )
        state.update((cnt, buf))
        yield pd.DataFrame(out, columns=[
            "doc_id", "win_id", "n_rows", "sum_n_tok", "min_n_tok", "max_n_tok"
        ])

    return _fn


def count_windows(stream: DataFrame, size: int, slide: int | None = None) -> DataFrame:
    """Per-key COUNT windows (countWindow(size[, slide]),
    PointTAggregateQuery.java:83-89): emit one aggregate row per key every
    `slide` arrivals over the last `size` rows; tumbling when slide omitted."""
    from spatialflink_spark.session import ensure_pyfiles

    ensure_pyfiles(stream.sparkSession)
    return (
        stream.select("doc_id", "seq_no", "n_tok")
        .groupBy("doc_id")
        .applyInPandasWithState(
            make_count_window_fn(size, size if slide is None else slide),
            outputStructType=CW_OUT,
            stateStructType=CW_STATE,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
