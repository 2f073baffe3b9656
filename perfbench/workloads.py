"""The benchmark's workloads.

Each workload copies the fixture and generates its other inputs from
the seed, starts the engine's session, sets up (staged layouts, a cold
ingest, and one untimed warm pass whose outputs are checked), measures
ops for the requested number of seconds, and keeps raw measurements.
``run.py`` turns them into metrics.

An *op* is one unit of user-visible work: a request
(``api.run_query`` -> ``api.to_records``) in ``request-mix``, one
registry query built and executed from a cold operator cache in
``pipeline-batch``. A traced run sends every op twice, traced once and
untraced once (``request-mix`` sends each request twice in a row,
``pipeline-batch`` makes two passes), so the tracing overhead is the
difference within each pair of identical ops.
"""

from __future__ import annotations

import contextlib
import io
import os
import shutil
import statistics
import sys
import threading
import time

import gen

# the engine's sf0.01 test fixture (~60k lineitem rows), unchanged
FIXTURE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixture")
CSV_ROWS = 200_000  # data lines per ingested CSV (~9 MB for both)
# registry queries over the fixture: build-heavy (hidden jobs,
# staged layouts, eager persists) and execute-heavy (Arrow/pandas
# kernels, shuffles)
BATCH_QUERIES = (
    "events-session",
    "text-quality",
    "corpus-quality-budget",
    "supplier-pagerank",
    "embed-score-pandas",
    "bpe-learn-merges",
    "sales-rollup",
)
# the same rollup over the ingested warehouse (month-partitioned, many
# small files); checked against the generated rows
NATIVE_QUERY = "sales-rollup"
# the engine's source-layer entry points, spanned in traced runs
SOURCE_FNS = (
    ("projet_etl_spark.sources.tables", ("load_table", "events", "produits", "points_de_vente")),
    ("projet_etl_spark.sources.ingest", ("table_exists",)),
)


def copy_fixture(dst: str) -> int:
    """Copy the star-schema fixture into ``dst``; returns its bytes.
    Each workload reads its own copy, so the staged layouts the engine
    keys by the input directory's name are the workload's own."""
    os.makedirs(dst)
    for name in sorted(os.listdir(FIXTURE)):
        shutil.copyfile(os.path.join(FIXTURE, name), os.path.join(dst, name))
    return dir_bytes(dst, ".parquet")[1]


def stage_dirs(root: str, sf_basename: str) -> list[str]:
    """Every staged-layout root built from the input directory named
    ``sf_basename`` (the engine keys stage roots by that name)."""
    out = []
    for dirpath, dirnames, _files in os.walk(os.path.join(root, "spark-warehouse")):
        if sf_basename in dirnames:
            out.append(os.path.join(dirpath, sf_basename))
            dirnames.remove(sf_basename)
    return out


def stage_bytes(root: str, sf_basename: str) -> int:
    return sum(dir_bytes(p)[1] for p in stage_dirs(root, sf_basename))


def dir_bytes(path: str, suffix: str = "") -> tuple[int, int]:
    """(files, bytes) of the regular files under ``path`` whose name
    ends with ``suffix``."""
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(suffix):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size


class Workload:
    """Shared machinery: session, op execution, tracing, accounting."""

    name = ""
    loop = ""
    clients = 1

    def __init__(self, root: str, work: str, seed: int, seconds: float, trace: bool):
        self.root = root
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.spark = None
        self.tracer = None
        self.setup_parts: dict[str, float] = {}
        self.ops: list[dict] = []  # measured ops
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.detail: dict = {}
        self.input_bytes = 0
        self.stored_bytes = 0
        self._lock = threading.Lock()

    # --- lifecycle ------------------------------------------------------
    def start_session(self) -> None:
        t0 = time.perf_counter()
        from projet_etl_spark.plans import registry  # noqa: F401  (loads every operator)
        from projet_etl_spark.session import get_spark

        self.spark = get_spark(f"perfbench-{self.name}")
        self.setup_parts["session.start_s"] = time.perf_counter() - t0
        if self.trace:
            from tracing import Tracer

            self.tracer = Tracer(self.spark)
            self._instrument_sources()

    def _instrument_sources(self) -> None:
        import importlib

        import projet_etl_spark.api  # noqa: F401  (the request layer)

        originals = {}
        for modname, attrs in SOURCE_FNS:
            mod = importlib.import_module(modname)
            for a in attrs:
                originals[a] = getattr(mod, a)
        wrapped = {
            a: self.tracer.wrap(f"sources.{a}", fn) for a, fn in originals.items()
        }
        for modname, mod in list(sys.modules.items()):
            if not modname.startswith("projet_etl_spark"):
                continue
            for a, fn in originals.items():
                if getattr(mod, a, None) is fn:
                    setattr(mod, a, wrapped[a])

    def stop(self) -> None:
        from pyspark import SparkContext

        if self.spark is None:
            return
        self.spark.stop()
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
            if proc is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
                proc.wait(timeout=60)

    def settle(self) -> None:
        """Collect the set-up's garbage in both processes, so its
        collection does not land inside a measured op."""
        import gc

        gc.collect()
        self.spark.sparkContext._jvm.System.gc()

    def jvm_peak_rss_mb(self) -> float:
        from pyspark import SparkContext

        pid = SparkContext._gateway.proc.pid
        with open(f"/proc/{pid}/status", encoding="ascii") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        return 0.0

    def clear_stages(self, sf_basename: str) -> None:
        """Remove every staged layout built from this workload's own
        input copy (stage roots are keyed by the input directory's
        name), so each run starts with no valid ``_SOURCE`` marker."""
        for path in stage_dirs(self.root, sf_basename):
            shutil.rmtree(path)

    # --- ops --------------------------------------------------------------
    def run_op(self, op: int, label: str, build, execute, traced: bool, spans) -> dict:
        """Run one op: ``execute(build())``. Returns its record: latency
        in ms and, in a traced op, the build/plan/execute split (spans
        named ``spans``) and Spark counters."""
        tr = self.tracer if traced else None
        rec = {"op": op, "label": label, "traced": traced, "ok": True}
        t0 = time.perf_counter()
        try:
            if tr is None:
                rec["result_rows"] = execute(build())
            else:
                b_name, p_name, e_name = spans
                try:
                    with tr.span("op", op=op):
                        g_build = tr.job_group(op, "build")
                        with tr.span(b_name) as sb:
                            df = build()
                        # Catalyst optimisation + physical planning, forced
                        # here so the execute span holds execution alone
                        with tr.span(p_name) as sp:
                            df._jdf.queryExecution().executedPlan()
                        g_exec = tr.job_group(op, "execute")
                        with tr.span(e_name) as se:
                            rec["result_rows"] = execute(df)
                finally:
                    tr.clear_group()
                rec["build_ms"] = (sb["end"] - sb["start"]) * 1e3
                rec["plan_ms"] = (sp["end"] - sp["start"]) * 1e3
                rec["execute_ms"] = (se["end"] - se["start"]) * 1e3
        except Exception as e:  # a failed op is counted, not fatal
            rec["ok"] = False
            rec["error"] = f"{type(e).__name__}: {str(e)[:300]}"
        rec["ms"] = (time.perf_counter() - t0) * 1e3
        if tr is not None and rec["ok"]:
            b = tr.job_counts(g_build)
            x = tr.job_counts(g_exec)
            rec["build_jobs"] = b["jobs"]
            rec.update({f"execute_{k}": v for k, v in x.items()})
            rec.update(tr.plan_metrics(df._jdf))
            rec["persisted_rdds"] = tr.persisted_rdds()
            tr.record_op(rec)
        with self._lock:
            self.attempted += 1
            if not rec["ok"]:
                self.failed += 1
                self.errors.append(f"{label}: {rec['error']}")
        return rec

    def closed_loop(self, requests, round_len: int, op_fn, seconds: float) -> tuple[float, list]:
        """``self.clients`` threads, each sending its next request only
        after the previous one completed. Requests come in rounds of
        ``round_len``; no round starts after ``seconds``, so the mix
        served is whole rounds. Returns the wall time from the first
        send to the last completion, and the op records."""
        lock = threading.Lock()
        nxt = 0
        recs: list[dict] = []
        t0 = time.perf_counter()
        deadline = t0 + seconds
        errors: list[BaseException] = []

        def client():
            nonlocal nxt
            try:
                while True:
                    with lock:
                        k = nxt
                        if k >= len(requests) or (
                            k % round_len == 0 and time.perf_counter() >= deadline
                        ):
                            return
                        nxt += 1
                    rec = op_fn(k, requests[k])
                    with lock:
                        recs.append(rec)
            except BaseException as e:  # surfaced after join
                errors.append(e)

        threads = [threading.Thread(target=client) for _ in range(self.clients)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        if errors:
            raise errors[0]
        return time.perf_counter() - t0, recs

    # --- hooks ------------------------------------------------------------
    def generate(self) -> None:
        raise NotImplementedError

    def setup(self) -> None:
        raise NotImplementedError

    def measure(self) -> float:
        raise NotImplementedError

    def check(self) -> None:
        raise NotImplementedError


class RequestMix(Workload):
    """2 closed-loop clients sending the 11 request types over the
    staged parity views of the star-schema fixture, with skewed
    parameters so popular requests repeat."""

    name = "request-mix"
    loop = "closed"
    clients = 2
    # rounds of the mix served untimed after the default-parameter
    # pass: latencies keep falling for the first rounds (JIT, caches)
    warm_rounds = 1

    def generate(self) -> None:
        self.sf = os.path.join(self.work, "perfbench-request-mix")
        self.input_bytes = copy_fixture(self.sf)
        reqs = gen.request_mix(self.seed, rounds=self.warm_rounds + 40)
        n = self.warm_rounds * len(gen.REQUEST_TYPES)
        self.warmup, self.requests = reqs[:n], reqs[n:]

    def op_fn(self, traced: bool):
        """The op for the k-th request. In a traced run request list
        entries come in identical pairs (k, k + 1 for even k); one of
        each pair is traced, the first in even pairs, the second in odd
        ones, so neither side always finds the other's warm caches."""
        from projet_etl_spark import api

        def op(k, req):
            type_param, params = req
            rec = self.run_op(
                k,
                type_param,
                lambda: api.run_query(self.spark, self.sf, type_param, **params),
                lambda df: len(api.to_records(df)),
                traced and k % 2 == (k // 2) % 2,
                ("api.run_query", "spark.plan", "api.to_records"),
            )
            rec["pair"] = k // 2
            return rec

        return op

    def setup(self) -> None:
        from projet_etl_spark import api
        from projet_etl_spark.sources import tables

        self.clear_stages(os.path.basename(self.sf))
        t0 = time.perf_counter()
        tables.produits(self.spark, self.sf)
        tables.points_de_vente(self.spark, self.sf)
        self.setup_parts["staging.build_s"] = time.perf_counter() - t0
        self.stored_bytes = stage_bytes(self.root, os.path.basename(self.sf))
        # warm pass: every type at its default parameters (checked
        # later), then a few rounds of the mix itself
        self.warm = {}
        for t in gen.REQUEST_TYPES:
            self.attempted += 1
            try:
                self.warm[t] = api.to_records(api.run_query(self.spark, self.sf, t))
            except Exception as e:
                self.failed += 1
                self.errors.append(f"warm {t}: {type(e).__name__}: {e}")
        self.closed_loop(self.warmup, len(gen.REQUEST_TYPES), self.op_fn(False), float("inf"))

    def measure(self) -> float:
        from projet_etl_spark import cache

        reqs, round_len = self.requests, len(gen.REQUEST_TYPES)
        if self.trace:
            reqs, round_len = [r for r in reqs for _ in (0, 1)], 2 * round_len
        wall, self.ops = self.closed_loop(reqs, round_len, self.op_fn(self.trace), self.seconds)
        served = len(self.ops) // 2 if self.trace else len(self.ops)
        self.detail["repeat_share"] = gen.repeat_share(self.requests[:served])
        t0 = time.perf_counter()
        cache.release_caches(rollups=False)
        self.detail["cache.release_ms"] = [(time.perf_counter() - t0) * 1e3]
        return wall

    def check(self) -> None:
        from checks import Oracle
        from projet_etl_spark.plans.registry import oracle_sql

        sqls = oracle_sql()
        oracle = Oracle(self.sf)
        try:
            for t, recs in self.warm.items():
                if recs:
                    bad = oracle.mismatch(sqls[t], list(recs[0]), [tuple(r.values()) for r in recs])
                else:  # an empty result carries no column names
                    n = len(oracle.con.execute(sqls[t]).fetchall())
                    bad = f"0 rows != expected {n}" if n else None
                if bad:
                    self.failed += 1
                    self.errors.append(f"check {t}: {bad}")
        finally:
            oracle.close()


class PipelineBatch(Workload):
    """The reference's batch path: a cold ingest of two whitespace
    CSVs, then registry queries one by one, each from a cold operator
    cache, in a seeded order; passes repeat until the time is up."""

    name = "pipeline-batch"
    loop = "sequential"
    clients = 1

    def generate(self) -> None:
        import numpy as np

        self.sf = os.path.join(self.work, "perfbench-pipeline-batch")
        self.csv_dir = os.path.join(self.work, "csv")
        self.warehouse = os.path.join(self.work, "perfbench-ingested")
        self.csv_bytes = gen.write_csvs(self.csv_dir, self.seed, CSV_ROWS)
        self.input_bytes = copy_fixture(self.sf) + self.csv_bytes
        ops = [(q, q, self.sf) for q in BATCH_QUERIES]
        ops.append((f"{NATIVE_QUERY}@ingested", NATIVE_QUERY, self.warehouse))
        order = np.random.default_rng([self.seed, 7]).permutation(len(ops))
        self.order = [ops[i] for i in order]  # (label, registry name, input dir)

    def setup(self) -> None:
        from projet_etl_spark import cache, ingest
        from projet_etl_spark.plans.registry import queries

        self.clear_stages(os.path.basename(self.sf))
        if self.trace:
            self._instrument_ingest(ingest)
        out = io.StringIO()
        self.attempted += 1
        t0 = time.perf_counter()
        with contextlib.redirect_stdout(out):
            rc = ingest.main([self.csv_dir, self.warehouse], spark=self.spark)
        ingest_s = time.perf_counter() - t0
        if rc != 0:
            self.failed += 1
            self.errors.append(f"ingest exited {rc}")
        self.ingested = {}
        for line in out.getvalue().splitlines():
            table, _, rest = line.partition(": ")
            if rest.endswith(f"-> {os.path.join(self.warehouse, table)}"):
                self.ingested[table] = int(rest.split()[0])
        files, size = dir_bytes(self.warehouse, ".parquet")
        self.setup_parts["ingest_s"] = ingest_s
        self.detail.update({
            "ingest_rows_per_s": 2 * CSV_ROWS / ingest_s,
            "warehouse_bytes_per_input_byte": size / self.csv_bytes,
            "ingest.files_written": files,
            "ingest.bytes_written": size,
        })

        # warm pass: first registry calls build the staged layouts
        self.fns = queries()
        self.warm = {}
        build_s = 0.0
        for label, q, sf_dir in self.order:
            cache.release_caches(rollups=False)
            self.attempted += 1
            try:
                t0 = time.perf_counter()
                df = self.fns[q](self.spark, sf_dir)
                build_s += time.perf_counter() - t0
                self.warm[label] = (df.columns, [tuple(r) for r in df.collect()])
            except Exception as e:
                self.failed += 1
                self.errors.append(f"warm {label}: {type(e).__name__}: {e}")
        self.setup_parts["staging.build_s"] = build_s
        self.stored_bytes = size + stage_bytes(self.root, os.path.basename(self.sf))

    def _instrument_ingest(self, ingest) -> None:
        tr = self.tracer
        read, write = ingest.read_whitespace_csv, ingest.write_table
        reads, writes = [], []

        def traced_read(*a, **k):
            t0 = time.perf_counter()
            df = read(*a, **k)
            reads.append((time.perf_counter() - t0) * 1e3)
            return df

        def traced_write(*a, **k):
            group = f"perfbench-ingest-write{len(writes)}"
            tr.sc.setJobGroup(group, group)
            t0 = time.perf_counter()
            write(*a, **k)
            writes.append((time.perf_counter() - t0, tr.job_counts(group)["tasks"]))
            tr.clear_group()

        ingest.read_whitespace_csv, ingest.write_table = traced_read, traced_write
        self.ingest_trace = (reads, writes)

    def measure(self) -> float:
        from projet_etl_spark import cache

        def execute(df):
            # run the whole plan in the JVM and discard the rows, as a
            # noop sink does, on the DataFrame's own query execution
            return df._jdf.queryExecution().toRdd().count()

        releases = []
        passes = []
        t0 = time.perf_counter()
        op = p = 0
        # whole passes only; another one starts if it should end in
        # time. A traced run makes two, tracing each query in one.
        while p < (2 if self.trace else 1) or (
            time.perf_counter() - t0 + passes[-1] <= self.seconds
        ):
            pass_s = 0.0
            for k, (label, q, sf_dir) in enumerate(self.order):
                r0 = time.perf_counter()
                cache.release_caches(rollups=False)
                releases.append((time.perf_counter() - r0) * 1e3)
                rec = self.run_op(
                    op,
                    label,
                    lambda q=q, sf_dir=sf_dir: self.fns[q](self.spark, sf_dir),
                    execute,
                    self.trace and (k + p) % 2 == 1,
                    spans=("plans.registry", "spark.plan", "execute"),
                )
                rec["pair"] = label
                self.ops.append(rec)
                pass_s += rec["ms"] / 1e3
                op += 1
            passes.append(pass_s)
            p += 1
        self.detail["cache.release_ms"] = releases
        self.detail["batch_total_s"] = statistics.median(passes)
        self.detail["passes"] = p
        return sum(r["ms"] for r in self.ops) / 1e3

    def check(self) -> None:
        from checks import Oracle, mismatch, rollup_rows
        from projet_etl_spark.plans.registry import oracle_sql

        want = {"produits": CSV_ROWS, "points_de_vente": CSV_ROWS}
        if self.ingested != want:
            self.failed += 1
            self.errors.append(f"check ingest: rows {self.ingested} != generated {want}")
        sqls = oracle_sql()
        oracle = Oracle(self.sf)
        try:
            for label, (cols, rows) in self.warm.items():
                if label.endswith("@ingested"):
                    pv = gen.csv_columns(self.seed, CSV_ROWS)["points_de_vente"]
                    bad = mismatch(cols, rows, *rollup_rows(pv))
                else:
                    bad = oracle.mismatch(sqls[label], cols, rows)
                if bad:
                    self.failed += 1
                    self.errors.append(f"check {label}: {bad}")
        finally:
            oracle.close()


WORKLOADS = {w.name: w for w in (RequestMix, PipelineBatch)}
