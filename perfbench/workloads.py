"""The benchmark's workloads and the metrics it reports.

Each run is one process on ``local[3]``: set-up (inputs generated from the
seed, session started and warmed), one cold operation, warm operations until
the measuring window closes, then an untimed correctness gate. The package is
driven only through its public functions; in a traced run the benchmark
wraps each call into a layer in a span (spans.py).

One operation ("op"):

- migrate: both migration entry points, one after the other.
  1. The CLI ``--tables`` path: ``migrate_streamed``, then the distributed
     ``write_json_collections`` with ``counts``, on parquet tables under a
     read-heavy query log. Output: a deep region > nation > {customer >
     orders, supplier} tree plus flat roots, as NDJSON part files.
  2. The HTTP-service path: ``migrate_from_dump``, then
     ``write_json_collections(single_file=True, zip_path=...)``, on a SQL
     dump under a write-heavy log that makes every table a referencing
     root: many flat collections, collected to the driver and zipped.
- analytics_mix: one pass over a fixed mix of registry queries, in a fixed
  order, each forced through the ``noop`` sink (the forcing ``bench.py``
  uses).
  It bypasses the query-log workload, the planner, nesting and the sink.
"""

from __future__ import annotations

import contextlib
import glob
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
import zipfile
from concurrent.futures import ThreadPoolExecutor

import spans as spans_mod

HERE = os.path.dirname(os.path.abspath(__file__))

# Generated inputs per workload (gen.generate keyword arguments).
INPUTS = {
    "migrate": {"tables_sf": 0.03, "tables_log": "read_heavy",
                "dump_sf": 0.001, "dump_log": "write_heavy"},
    "analytics_mix": {"tables_sf": 0.1},
}
# The analytics mix: registry id (operators.all_queries()) -> the layer its
# span is reported under. Queries run in this order in every pass and every
# run: the first queries a fresh JVM runs shape its JIT profiles, and a
# seeded order made every later query of some seeds ~25% slower.
MIX = {
    "agg_pricing_summary": "operators",
    "ext_session_agg": "operators",
    "ext_events_retention": "operators",
    "ext_text_quality": "operators",
    "ext_mm_frame_sample": "operators",
    "stream_to_json_files": "streaming",
}
# Roots of the tables-path plan under the read-heavy log; nation, customer,
# orders and supplier are embedded under region.
NESTED_ROOTS = ("region", "part", "lineitem", "events", "documents", "embeddings")
# Span layers. The sink's two modes are separate layers: distributed NDJSON
# (tables path) and single-file JSON arrays plus zip (dump path).
SINK = "sinks.json_collections"
SINK_SINGLE = "sinks.json_collections.single_file"
FOLD_LAYERS = ("sources.parquet", "engine", "sources.sqldump", "workload",
               "plans.planner", "plans.nesting", SINK, SINK_SINGLE,
               "operators", "streaming")
SETUP_REPS = 3
MIN_WARM_OPS = 2

END_TO_END = {"setup_s": "s", "first_op_s": "s", "op_p50_s": "s",
              "rows_per_s": "rows/s", "peak_rss_mb": "MB"}


def per_layer_names() -> list[str]:
    """Every per-layer metric a traced run reports, on every workload (a
    layer the workload does not call reads 0)."""
    names = [
        "session.start_s",
        "sources.parquet.load_s", "sources.parquet.jobs",
        "engine.catalog_s",
        "sources.sqldump.import_s", "sources.sqldump.rows_per_s",
        "workload.apply_s", "workload.jobs", "workload.statements_per_s",
        "plans.planner.convert_s", "plans.planner.embedded",
        "plans.planner.referenced",
        "plans.nesting.materialize_s", "plans.nesting.jobs",
    ]
    for sink in (SINK, SINK_SINGLE):
        names += [f"{sink}.write_s", f"{sink}.jobs", f"{sink}.docs",
                  f"{sink}.bytes", f"{sink}.bytes_per_row"]
    for qid, layer in MIX.items():
        names += [f"{layer}.{qid}.s", f"{layer}.{qid}.jobs"]
    for layer in FOLD_LAYERS:
        names += [f"{layer}.{k}" for k in spans_mod.FOLD_KEYS + ("self_s",)]
    names += ["trace.overhead_s", "trace.unlabelled_jobs"]
    return names


def layer_unit(name: str) -> str:
    if name.endswith("_per_s"):
        return "1/s"
    if name.endswith("_per_row"):
        return "bytes/row"
    if name.endswith(("_s", ".s")):
        return "s"
    if name.endswith(("_bytes", ".bytes")):
        return "bytes"
    return "count"


# --- helpers -----------------------------------------------------------------

def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _json_files(path: str) -> list[str]:
    """Data files of one written collection (no _SUCCESS or .crc files)."""
    if os.path.isfile(path):
        return [path]
    return sorted(f for f in glob.glob(os.path.join(path, "*"))
                  if not os.path.basename(f).startswith(("_", ".")))


def _tree_bytes(path: str) -> int:
    return sum(os.path.getsize(f)
               for d in glob.glob(os.path.join(path, "*"))
               for f in _json_files(d))


def _canon(value):
    if value is None:
        return None
    if isinstance(value, float):
        return "NaN" if math.isnan(value) else repr(value)
    if hasattr(value, "asDict"):
        return _canon(value.asDict(recursive=True))
    if isinstance(value, (list, tuple)):
        return [_canon(v) for v in value]
    if isinstance(value, dict):
        return sorted((k, _canon(v)) for k, v in value.items())
    return str(value)


def result_hash(rows, columns: list[str]) -> tuple[int, str]:
    """(row count, order-insensitive hash) of a result, columns by name."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted(json.dumps([_canon(r[i]) for i in order], default=str)
                   for r in rows)
    return len(lines), hashlib.sha256("\n".join(lines).encode()).hexdigest()


def digest(path: str) -> str:
    """Hash of a file's bytes, or of every file's relative path and bytes
    under a directory."""
    h = hashlib.sha256()
    files = [path] if os.path.isfile(path) else sorted(
        glob.glob(os.path.join(path, "**", "*"), recursive=True))
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, path).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def _count_collections(c) -> int:
    return 1 + sum(_count_collections(e) for e in c.embedded)


class Run:
    """State of one benchmark run: generated inputs, the Spark session, the
    optional tracer and the samples taken."""

    def __init__(self, workload: str, seed: int, work: str,
                 sf: float | None = None):
        self.workload, self.seed, self.work = workload, seed, work
        self.inputs_spec = dict(INPUTS[workload])
        if sf is not None:
            for key in ("tables_sf", "dump_sf"):
                if key in self.inputs_spec:
                    self.inputs_spec[key] = sf
        self.spark = None
        self.tracer: spans_mod.Tracer | None = None
        self.attempted = self.failed = 0
        self.problems: list[str] = []
        self.per_op: list[dict] = []

    # -- set-up --

    def generate(self, rep: int) -> float:
        cmd = [sys.executable, os.path.join(HERE, "gen.py"),
               "--out", os.path.join(self.work, f"inputs-{rep}"),
               "--seed", str(self.seed)]
        for key, value in self.inputs_spec.items():
            cmd += ["--" + key.replace("_", "-"), str(value)]
        t0 = time.perf_counter()
        subprocess.run(cmd, check=True)
        return time.perf_counter() - t0

    def start_session(self, event_log: str | None = None) -> float:
        from relational_to_doc_oriented_nosql_migrator_spark.session import get_spark

        t0 = time.perf_counter()
        conf = None
        if event_log:
            os.makedirs(event_log, exist_ok=True)
            conf = {"spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + event_log,
                    "spark.eventLog.compress": "false"}
        self.spark = get_spark(app_name=f"perfbench-{self.workload}",
                               extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")

        # Warm the JVM and the Python worker pool.
        def _noop(batches):
            yield from batches

        (self.spark.range(10_000).repartition(4)
         .mapInPandas(_noop, "id long").write.format("noop")
         .mode("overwrite").save())
        return time.perf_counter() - t0

    def setup(self) -> dict:
        """Generate the inputs SETUP_REPS times at once (each into a fresh
        directory; the copies must be byte-identical), then start the
        session. setup_s = median generation time + session start."""
        with ThreadPoolExecutor(SETUP_REPS) as pool:
            gen_s = list(pool.map(self.generate, range(SETUP_REPS)))
        copies = [os.path.join(self.work, f"inputs-{r}") for r in range(SETUP_REPS)]
        if len({digest(c) for c in copies}) != 1:
            self.problems.append("generated inputs differ between copies")
        for c in copies[1:]:
            shutil.rmtree(c)
        self.inputs = copies[0]
        with open(os.path.join(self.inputs, "manifest.json")) as fh:
            self.manifest = json.load(fh)
        self.tables_dir = os.path.join(self.inputs, "tables")
        self.tables_log = self._read("tables.log")
        self.dump_text = self._read("dump.sql")
        self.dump_log = self._read("dump.log")
        session_s = self.start_session()
        return {"setup_s": session_s + statistics.median(gen_s),
                "session.start_s": session_s, "gen_s": gen_s}

    def _read(self, name: str) -> str | None:
        path = os.path.join(self.inputs, name)
        if not os.path.exists(path):
            return None
        with open(path) as fh:
            return fh.read()

    def rows(self, part: str) -> dict[str, int]:
        return self.manifest.get(part, {}).get("rows", {})

    def source_rows(self) -> int:
        """Rows the operation reads: every generated table (and dump)."""
        return sum(sum(self.rows(p).values()) for p in ("tables", "dump"))

    # -- spans --

    def span(self, name: str, layer: str, op: int | None = None):
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(name, layer, op=op)

    def install_spans(self) -> None:
        from relational_to_doc_oriented_nosql_migrator_spark import (
            engine, workload,
        )
        from relational_to_doc_oriented_nosql_migrator_spark.operators import common
        from relational_to_doc_oriented_nosql_migrator_spark.plans import nesting
        from relational_to_doc_oriented_nosql_migrator_spark.sources import (
            parquet, sqldump,
        )

        def count_plan(span, plan) -> None:
            total = sum(_count_collections(c) for c in plan.collections)
            span.counters["embedded"] = total - len(plan.collections)
            span.counters["referenced"] = sum(
                any(a.endswith("_REF") for a in c.attributes)
                for c in plan.collections)

        tr = self.tracer = spans_mod.Tracer(self.spark.sparkContext)
        tr.wrap(engine, "load_tables", "sources.parquet")
        tr.wrap(parquet, "load_table", "sources.parquet")
        tr.wrap(common, "load_table", "sources.parquet")
        tr.wrap(engine, "build_testdata_catalog", "engine")
        tr.wrap(sqldump, "import_sql_dump", "sources.sqldump")
        tr.wrap(workload, "apply_workload", "workload")
        tr.wrap(engine, "convert_schema", "plans.planner", count_plan)
        tr.wrap(engine, "materialize", "plans.nesting")
        tr.wrap(nesting, "stream_plan", "plans.nesting")
        tr.wrap(nesting, "materialize_streamed_root", "plans.nesting")

    # -- operations --

    def op(self, i: int) -> float:
        """Run operation i; returns its wall time. A failed operation or a
        failed per-operation check counts as failed."""
        self.attempted += 1
        t0 = time.perf_counter()
        with self.span(f"op:{i}", "op", op=i):
            if self.workload == "migrate":
                info = self._op_migrate()
            else:
                info = self._op_mix()
        info["wall_s"] = time.perf_counter() - t0
        if self.workload == "migrate":
            info["bytes"] = _tree_bytes(os.path.join(self.work, "out_nested"))
            info["single_file_bytes"] = _tree_bytes(os.path.join(self.work, "out_flat"))
        self.per_op.append(info)
        if info["problems"]:
            self.failed += 1
            self.problems += [f"op {i}: {p}" for p in info["problems"]]
        return info["wall_s"]

    def _op_migrate(self) -> dict:
        from relational_to_doc_oriented_nosql_migrator_spark.engine import (
            migrate_from_dump, migrate_streamed,
        )
        from relational_to_doc_oriented_nosql_migrator_spark.sinks import write_json_collections

        out_nested = os.path.join(self.work, "out_nested")
        out_flat = os.path.join(self.work, "out_flat")
        zip_path = os.path.join(self.work, "collections.zip")
        shutil.rmtree(out_nested, ignore_errors=True)
        shutil.rmtree(out_flat, ignore_errors=True)
        if os.path.exists(zip_path):
            os.remove(zip_path)

        collections, streamed = migrate_streamed(
            self.spark, self.tables_dir, log_content=self.tables_log,
            log_dialect="mysql")
        counts: dict = {}
        with self.span("write distributed", SINK):
            write_json_collections(collections, out_nested, streamed=streamed,
                                   counts=counts)

        collections, _catalog, plan = migrate_from_dump(
            self.spark, self.dump_text, log_content=self.dump_log,
            log_dialect="mysql", return_plan=True)
        single_counts: dict = {}
        with self.span("write single file + zip", SINK_SINGLE):
            write_json_collections(collections, out_flat, single_file=True,
                                   zip_path=zip_path, counts=single_counts)
        self.dump_plan = plan

        problems = []
        rows = self.rows("tables")
        want = {n: rows[n] for n in NESTED_ROOTS}
        if counts != want:
            problems.append(f"tables path doc counts {counts} != {want}")
        if single_counts != self.rows("dump"):
            problems.append(f"dump path doc counts {single_counts} != {self.rows('dump')}")
        return {"counts": counts, "single_counts": single_counts,
                "problems": problems}

    def _op_mix(self) -> dict:
        from relational_to_doc_oriented_nosql_migrator_spark.operators import all_queries

        queries = all_queries()
        times = {}
        for qid in MIX:
            t0 = time.perf_counter()
            with self.span(qid, MIX[qid]):
                (queries[qid](self.spark, self.tables_dir)
                 .write.format("noop").mode("overwrite").save())
            times[qid] = time.perf_counter() - t0
            self.spark.catalog.clearCache()
        return {"times": times, "problems": []}

    def window(self, seconds: float, min_ops: int = MIN_WARM_OPS) -> list[int]:
        """Warm operations until ``seconds`` have passed (at least
        ``min_ops``). Returns the indices of the operations run."""
        done = []
        t0 = time.perf_counter()
        while len(done) < min_ops or time.perf_counter() - t0 < seconds:
            i = len(self.per_op)
            self.op(i)
            done.append(i)
        return done

    def op_p50(self, ops: list[int]) -> float:
        if self.workload == "analytics_mix":
            # Sum of per-query medians: bench.py's `value`, on this mix.
            return sum(statistics.median(self.per_op[i]["times"][q] for i in ops)
                       for q in MIX)
        return statistics.median(self.per_op[i]["wall_s"] for i in ops)

    def peak_rss_mb(self) -> float:
        jvm_pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        return (_vm_hwm_kb("self") + _vm_hwm_kb(jvm_pid)) / 1024.0

    def report(self, ops: list[int]) -> list[str]:
        """Human-readable lines: sample count, median and maximum (a window
        never holds the 20 samples a p90 needs, so the maximum is the tail
        reported), and the operation times in order."""
        walls = [self.per_op[i]["wall_s"] for i in ops]
        lines = [f"warm ops: n={len(walls)} p50={statistics.median(walls):.3f}s "
                 f"max={max(walls):.3f}s in order={[round(w, 3) for w in walls]}"]
        if self.workload == "analytics_mix":
            for q in MIX:
                ts = [self.per_op[i]["times"][q] for i in ops]
                lines.append(f"  {q}: cold={self.per_op[0]['times'][q]:.3f}s "
                             f"p50={statistics.median(ts):.3f}s")
        return lines

    # -- correctness gate --

    def gate(self) -> list[str]:
        checks = ([self._gate_nested, self._gate_dump]
                  if self.workload == "migrate" else [self._gate_mix])
        problems = []
        for check in checks:
            try:
                problems += check()
            except Exception as exc:  # a crashed check is a failed check
                traceback.print_exc()
                problems.append(f"{check.__name__} raised {exc!r}")
        return problems

    def _gate_nested(self) -> list[str]:
        """Tables path: per-collection doc counts equal source row counts,
        nested-array totals equal child row counts, embedded children
        dropped their FK column, lineitem carries *_REF columns."""
        out = os.path.join(self.work, "out_nested")
        rows = self.rows("tables")
        problems = []
        written = sorted(os.listdir(out))
        if written != sorted(NESTED_ROOTS):
            problems.append(f"roots {written} != {sorted(NESTED_ROOTS)}")
        for name in written:
            n = 0
            for f in _json_files(os.path.join(out, name)):
                with open(f, "rb") as fh:
                    n += sum(1 for line in fh if line.strip())
            if n != rows.get(name):
                problems.append(f"{name}: {n} docs, source has {rows.get(name)}")
        totals = dict.fromkeys(("nation", "customer", "orders", "supplier"), 0)
        fk_left = set()
        for f in _json_files(os.path.join(out, "region")):
            with open(f) as fh:
                for line in fh:
                    for nation in json.loads(line).get("nation", []):
                        totals["nation"] += 1
                        fk_left.update({"n_regionkey"} & nation.keys())
                        for cust in nation.get("customer", []):
                            totals["customer"] += 1
                            fk_left.update({"c_nationkey"} & cust.keys())
                            for o in cust.get("orders", []):
                                totals["orders"] += 1
                                fk_left.update({"o_custkey"} & o.keys())
                        for s in nation.get("supplier", []):
                            totals["supplier"] += 1
                            fk_left.update({"s_nationkey"} & s.keys())
        for name, n in totals.items():
            if n != rows[name]:
                problems.append(f"embedded {name}: {n}, source has {rows[name]}")
        if fk_left:
            problems.append(f"embedded docs kept FK columns {sorted(fk_left)}")
        keys: set = set()
        for f in _json_files(os.path.join(out, "lineitem")):
            with open(f) as fh:
                line = fh.readline()
            if line.strip():
                keys = json.loads(line).keys()
                break
        want = {"l_orderkey_REF", "l_partkey_REF", "l_suppkey_REF"}
        if not want <= keys:
            problems.append(f"lineitem docs lack {sorted(want - keys)}")
        return problems

    def _gate_dump(self) -> list[str]:
        """Dump path: every table is a referencing root in the plan and in
        the files, doc counts equal dump row counts, the zip holds them."""
        from relational_to_doc_oriented_nosql_migrator_spark.plans.catalog import (
            TPCH_FOREIGN_KEYS,
        )

        out = os.path.join(self.work, "out_flat")
        rows = self.rows("dump")
        problems = []
        plan = self.dump_plan
        roots = sorted(c.name for c in plan.collections)
        if roots != sorted(rows):
            problems.append(f"plan roots {roots} != {sorted(rows)}")
        if any(c.embedded for c in plan.collections):
            problems.append("plan embeds a collection")
        for c in plan.collections:
            want = {f"{fk[0]}_REF" for fk in TPCH_FOREIGN_KEYS.get(c.name, [])}
            if not want <= set(c.attributes):
                problems.append(f"{c.name}: plan lacks {sorted(want)}")
        for name, n in rows.items():
            with open(os.path.join(out, f"{name}.json")) as fh:
                docs = json.load(fh)
            if len(docs) != n:
                problems.append(f"{name}: {len(docs)} docs, dump has {n}")
            want = {f"{fk[0]}_REF" for fk in TPCH_FOREIGN_KEYS[name]}
            if docs and not want <= docs[0].keys():
                problems.append(f"{name} docs lack {sorted(want)}")
        with zipfile.ZipFile(os.path.join(self.work, "collections.zip")) as zf:
            names = sorted(zf.namelist())
        if names != sorted(f"{n}.json" for n in rows):
            problems.append(f"zip holds {names}")
        return problems

    def _gate_mix(self) -> list[str]:
        """Each query's (row count, order-insensitive hash) equals its
        DuckDB oracle's on the same parquet files."""
        import duckdb

        from relational_to_doc_oriented_nosql_migrator_spark.operators import (
            all_queries, all_scaled_oracles,
        )

        queries = all_queries()
        oracles = all_scaled_oracles(self.tables_dir)
        con = duckdb.connect()
        for name in self.rows("tables"):
            path = os.path.join(self.tables_dir, f"{name}.parquet")
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
        problems = []
        for qid in MIX:
            df = queries[qid](self.spark, self.tables_dir)
            got = result_hash(df.collect(), df.columns)
            cur = con.execute(oracles[qid])
            want = result_hash(cur.fetchall(), [d[0] for d in cur.description])
            if got != want:
                problems.append(f"{qid}: spark (rows, hash) {got} != oracle {want}")
            self.spark.catalog.clearCache()
        con.close()
        return problems

    # -- traced per-layer metrics --

    def layer_metrics(self, ops: list[int]) -> dict[str, float]:
        """Median over the traced operations of each layer's per-operation
        totals (time, self time, jobs, folded stage metrics, counts)."""
        tr = self.tracer
        per_op = []
        for i in ops:
            agg: dict[str, float] = {}
            for idx, s in enumerate(tr.spans):
                if s.op != i:
                    continue
                agg["unlabelled_jobs"] = (agg.get("unlabelled_jobs", 0)
                                          + s.counters.get("unlabelled_jobs", 0))
                if s.layer == "op":
                    continue
                keys = [s.layer]
                if s.layer in ("operators", "streaming"):
                    keys.append(f"{s.layer}.{s.name}")
                for key in keys:
                    for k, v in (("total_s", s.duration),
                                 ("self_s", tr.self_time(idx)), *s.counters.items()):
                        agg[f"{key}.{k}"] = agg.get(f"{key}.{k}", 0) + v
            per_op.append(agg)

        def med(key: str) -> float:
            return statistics.median(a.get(key, 0) for a in per_op)

        def rate(count: float, key: str) -> float:
            t = med(key)
            return count / t if t > 0 else 0.0

        def op_med(key: str) -> float:
            return statistics.median(self.per_op[i].get(key, 0) for i in ops)

        statements = sum(self.manifest.get(p, {}).get("log_statements", 0)
                         for p in ("tables", "dump"))
        m = {
            "sources.parquet.load_s": med("sources.parquet.total_s"),
            "sources.parquet.jobs": med("sources.parquet.jobs"),
            "engine.catalog_s": med("engine.self_s"),
            "sources.sqldump.import_s": med("sources.sqldump.total_s"),
            "sources.sqldump.rows_per_s": rate(sum(self.rows("dump").values()),
                                               "sources.sqldump.total_s"),
            "workload.apply_s": med("workload.total_s"),
            "workload.jobs": med("workload.jobs"),
            "workload.statements_per_s": rate(statements, "workload.total_s"),
            "plans.planner.convert_s": med("plans.planner.total_s"),
            "plans.planner.embedded": med("plans.planner.embedded"),
            "plans.planner.referenced": med("plans.planner.referenced"),
            "plans.nesting.materialize_s": med("plans.nesting.total_s"),
            "plans.nesting.jobs": med("plans.nesting.jobs"),
            "trace.unlabelled_jobs": med("unlabelled_jobs"),
        }
        for sink, part, counts, nbytes in (
                (SINK, "tables", "counts", "bytes"),
                (SINK_SINGLE, "dump", "single_counts", "single_file_bytes")):
            m[f"{sink}.write_s"] = med(f"{sink}.total_s")
            m[f"{sink}.jobs"] = med(f"{sink}.jobs")
            m[f"{sink}.docs"] = statistics.median(
                sum(self.per_op[i].get(counts, {}).values()) for i in ops)
            m[f"{sink}.bytes"] = op_med(nbytes)
            source = sum(self.rows(part).values())
            m[f"{sink}.bytes_per_row"] = (m[f"{sink}.bytes"] / source
                                          if self.workload == "migrate" else 0.0)
        for qid, layer in MIX.items():
            m[f"{layer}.{qid}.s"] = med(f"{layer}.{qid}.total_s")
            m[f"{layer}.{qid}.jobs"] = med(f"{layer}.{qid}.jobs")
        for layer in FOLD_LAYERS:
            for k in spans_mod.FOLD_KEYS + ("self_s",):
                m[f"{layer}.{k}"] = med(f"{layer}.{k}")
        return m


def stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run(workload: str, seed: int, seconds: float, trace: bool, work: str,
        sf: float | None = None) -> dict:
    """One benchmark run; returns the result object run.py prints last.

    Untraced: cold op, then a window of warm ops; end-to-end metrics.
    Traced: cold op, half a window untraced, then the session is restarted
    with an uncompressed event log and layer spans for the other half; the
    per-layer metrics come from that half, and the difference of the two
    halves' medians is the tracing overhead."""
    r = Run(workload, seed, work, sf)
    setup = r.setup()
    event_log = os.path.join(work, "eventlog")
    try:
        first_op_s = r.op(0)
        if trace:
            untraced = r.window(seconds / 2, min_ops=1)
            base = r.op_p50(untraced)
            r.spark.stop()
            r.start_session(event_log)
            r.install_spans()
            ops = r.window(seconds / 2, min_ops=1)
            r.tracer.unwrap_all()
            overhead = r.op_p50(ops) - base
        else:
            ops = r.window(seconds)
            e2e = {"setup_s": setup["setup_s"], "first_op_s": first_op_s,
                   "op_p50_s": r.op_p50(ops),
                   "rows_per_s": r.source_rows() / r.op_p50(ops),
                   "peak_rss_mb": r.peak_rss_mb()}
        problems = r.gate()
    finally:
        stop_spark(r.spark)
    if trace:
        spans_mod.fold(r.tracer, event_log)
        r.tracer.write(work + ".spans.jsonl")
        m = r.layer_metrics(ops)
        m["session.start_s"] = setup["session.start_s"]
        m["trace.overhead_s"] = overhead
        metrics = {k: {"value": m[k], "unit": layer_unit(k)}
                   for k in per_layer_names()}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
    for line in r.report(ops):
        print(line)
    print(f"setup: session {setup['session.start_s']:.3f}s, generation "
          f"{[round(g, 3) for g in setup['gen_s']]}")
    if problems:
        r.failed += 1
        r.problems += problems
    for p in r.problems:
        print(f"CHECK FAILED: {p}", file=sys.stderr)
    return {"correct": not r.problems, "attempted": r.attempted,
            "failed": r.failed, "metrics": metrics}
