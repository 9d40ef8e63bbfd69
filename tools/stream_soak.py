"""Streaming watermark-EVICTION soak (r07 verdict task #6).

STREAM_STATE_r07 proved state scales with keys (users/sessions/windows),
but availableNow over a single-file corpus drains in 1-2 micro-batches,
so eviction across many batches was asserted only by one unit test. This
tool drives each stateful op through a genuinely multi-batch run:

1. the events table is time-sliced into N single-file parquet slices
   (sorted by ts, equal row counts, strictly increasing modification
   times so the file-stream source ingests them oldest-first);
2. each op reads the sliced directory with maxFilesPerTrigger=1 under
   availableNow — one micro-batch per slice, N real batches, with the
   event-time watermark advancing ~(span/N) per batch;
3. per batch we record the state store's total rows and removed rows
   from StreamingQuery progress, and flag the op "evicting" when the
   row total is non-monotone or the store reports removals.

The windowed aggregations run in APPEND mode here (the continuous-
production posture): complete mode — what the registered finite-input
queries use so the batch oracle applies — retains every window by
definition and can never evict. The per-user applyInPandasWithState op
(NoTimeout) is expected to PLATEAU at |users|, not evict — that is its
scale contract; it is recorded with evicting=False by design.

Usage:
  PYTHONPATH=/root/repo python tools/stream_soak.py \
      [sf_dir] [n_slices] > STREAM_STATE_r08.json
Defaults: /root/testdata/sf0.1, 16 slices.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def build_slices(sf_dir: str, n_slices: int, out_dir: str) -> int:
    """Time-slice the events table into n single-file parquet slices with
    strictly increasing mtimes (the file-stream source processes oldest
    modification time first; maxFilesPerTrigger=1 then yields exactly one
    slice per micro-batch).

    Memory bound (r08 ADVICE): this materializes the ENTIRE events table
    in Arrow memory (concat + sort) before slicing — fine for the
    sf0.1/sf1.0 soak scales this harness targets (~10^5-10^6 narrow
    rows), NOT for sf10-class corpora. If the soak is ever pointed at a
    larger SF, sort/slice per row-group instead of concatenating."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from relational_to_doc_oriented_nosql_migrator_spark.sources.parquet import (
        parquet_paths,
    )

    # parquet_paths owns the layout rule (single file OR a directory of
    # part files — the production layout); reading only part-00000 of a
    # multi-part directory would silently soak a fraction of the corpus
    # and report it as n_events.
    table = pa.concat_tables(
        [pq.read_table(p) for p in parquet_paths(sf_dir, "events")]
    )
    table = table.sort_by([("ts", "ascending")])
    n = table.num_rows
    os.makedirs(out_dir, exist_ok=True)
    base = time.time() - 10 * n_slices
    for i in range(n_slices):
        lo = i * n // n_slices
        hi = (i + 1) * n // n_slices
        path = os.path.join(out_dir, f"slice_{i:03d}.parquet")
        pq.write_table(table.slice(lo, hi - lo), path)
        os.utime(path, (base + 10 * i, base + 10 * i))
    return n


def batch_series(progress: list) -> list[dict]:
    out = []
    for p in progress:
        ops = p.get("stateOperators", [])
        out.append({
            "batch": p.get("batchId"),
            "input_rows": p.get("numInputRows"),
            "watermark": (p.get("eventTime") or {}).get("watermark"),
            "state_rows": sum(o.get("numRowsTotal", 0) for o in ops),
            "rows_removed": sum(o.get("numRowsRemoved", 0) for o in ops),
            "state_bytes": sum(
                o.get("stateMemory", o.get("memoryUsedBytes", 0))
                for o in ops
            ),
        })
    return out


def main() -> None:
    from relational_to_doc_oriented_nosql_migrator_spark.operators.common import (
        cleanup_scratch,
        scratch_dir,
    )
    from relational_to_doc_oriented_nosql_migrator_spark.session import get_spark
    from relational_to_doc_oriented_nosql_migrator_spark.streaming import ops

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    n_slices = int(sys.argv[2]) if len(sys.argv) > 2 else 16

    spark = get_spark(app_name="stream_soak")
    spark.sparkContext.setLogLevel("ERROR")

    soak_dir = os.path.join(scratch_dir("sg_soak_src_"), "events")
    n_rows = build_slices(sf_dir, n_slices, soak_dir)

    # op -> (builder over the sliced events stream, output mode, sink,
    #        whether watermark eviction is part of its contract)
    soak_ops = {
        "ext_stream_tumbling_agg": (ops.stream_tumbling_agg, "append",
                                    "files", True),
        "ext_stream_sliding_agg": (ops.stream_sliding_agg, "append",
                                   "files", True),
        "ext_stream_session_agg": (ops.stream_session_agg, "append",
                                   "files", True),
        "ext_stream_dedup": (ops.stream_dedup_keys, "append", "files",
                             True),
        "ext_stream_interval_join": (ops.stream_interval_join, "append",
                                     "files", True),
        "ext_stream_stateful": (ops.stream_user_stats, "update", "memory",
                                False),  # NoTimeout: plateau at |users|
        "ext_stream_sessionize": (ops.stream_sessionize, "update",
                                  "memory", False),
    }
    # Stream-static enrich + windowed agg: the dim side is a batch
    # relation (mirroring q_ext_stream_enrich_agg); its watermarked
    # window state must evict like the other append-mode aggs.
    from relational_to_doc_oriented_nosql_migrator_spark.sources.parquet import load_table

    _dim = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    soak_ops["ext_stream_enrich_agg"] = (
        lambda ev: ops.stream_enrich_agg(ev, _dim), "append", "files", True,
    )

    out: dict = {
        "what": ("watermark-eviction soak: one micro-batch per time "
                 "slice via maxFilesPerTrigger=1 under availableNow"),
        "sf_dir": sf_dir,
        "n_slices": n_slices,
        "n_events": n_rows,
        "note": ("windowed aggs run in APPEND mode (continuous posture; "
                 "complete mode retains all windows by definition). "
                 "evicting = state_rows non-monotone across batches or "
                 "numRowsRemoved > 0. ext_stream_stateful (NoTimeout "
                 "per-user state) plateaus at |users| by contract."),
        "ops": {},
    }
    for qid, (builder, mode, sink, expect_evict) in soak_ops.items():
        t0 = time.time()
        try:
            events = ops.read_events_stream(
                spark, sf_dir, max_files_per_trigger=1, path=soak_dir
            )
            res = ops.run_stream_to_batch(builder(events), mode, sink=sink)
            rows_out = res.count()
            series = batch_series(ops.LAST_STREAM_PROGRESS)
            data_batches = [b for b in series if b["input_rows"]]
            totals = [b["state_rows"] for b in series]
            removed = sum(b["rows_removed"] for b in series)
            evicting = removed > 0 or any(
                b < a for a, b in zip(totals, totals[1:])
            )
            out["ops"][qid] = {
                "mode": mode,
                "sink": sink,
                "rows_out": rows_out,
                "wall_s": round(time.time() - t0, 1),
                "n_batches": len(series),
                "n_data_batches": len(data_batches),
                "state_rows_series": totals,
                "state_rows_max": max(totals, default=0),
                "state_rows_final": totals[-1] if totals else 0,
                "rows_removed_total": removed,
                "evicting": evicting,
                "eviction_expected": expect_evict,
            }
        except Exception as ex:  # noqa: BLE001 — record, keep soaking
            out["ops"][qid] = {
                "error": f"{type(ex).__name__}: {str(ex)[:200]}"
            }
        print(f"# {qid}: {out['ops'][qid]}", file=sys.stderr, flush=True)

    failures = [
        qid for qid, r in out["ops"].items()
        if r.get("eviction_expected") and not r.get("evicting")
    ]
    out["eviction_holds_for_all_expected"] = not failures
    if failures:
        out["non_evicting_expected_ops"] = failures
    print(json.dumps(out, indent=1, sort_keys=True))
    cleanup_scratch()


if __name__ == "__main__":
    main()
