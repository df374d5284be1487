"""The benchmark's workloads.

Each workload is one closed-loop client in one Python process on one
``local[nproc]`` SparkSession, calling only the engine's public
functions. A run is: start the session, prepare the inputs (several
times, for a steady ``setup_s``), warm up, then measure whole rounds
until the run's seconds are used (at least one round), then check every
result in DuckDB outside the timers.

- ``medallion_batch``: one round is the scheduled job, ``runner.run``
  into a fresh warehouse directory followed by the generic and singular
  DQ tests.
- ``merge_churn``: one round is a 1k-row and a 50k-row MERGE commit
  through ``lakehouse.merge_into``, each followed by a ``read_keys``
  point read and a time-travel ``read``.
"""

from __future__ import annotations

import os
import random
import sys
import time
from statistics import median

from perfbench import gen
from perfbench.oracle import ChurnReplay, Oracle, diff_rows
from perfbench.trace import TAIL_BEYOND, Instrumentation, Tracer, layer_table, tail, union_length

# the row counts of the engine's sf0.001 test data: a round is bound by
# per-job overhead at any of the test sizes, and larger inputs do not fit
# the run's time budget (README.md)
SOURCES = gen.SourceSize(customers=150, orders=1_500, lineitems=6_000, parts=200, suppliers=10)
PREPARE_REPEATS = 3
DQ_TESTS = ("dq_generic_tests", "dq_singular_tests")
# runner.run's bronze views (recorded, not written) and the tables it
# must write, by layer directory
RUN_VIEWS = ("bronze_customers", "bronze_orders", "bronze_payments")
RUN_MODELS = {
    "silver": ("silver_customers", "silver_orders", "silver_payments"),
    "gold": ("gold_customer_summary", "gold_order_metrics", "gold_revenue_analysis"),
}
# 18 base loads (versions 0-17) and 4 warm-up MERGEs (18-21): the first
# commits of a session run slower (JIT), and the checkpoint at
# lakehouse.CHECKPOINT_INTERVAL (20) is written before timing starts, so
# every timed commit replays the log from that checkpoint and none of
# them writes one.
CHURN = gen.ChurnPlan(base_rows=150_000, base_files=18, small_rows=1_000, large_rows=50_000)
CHURN_WARMUP_BATCHES = 4
PROBE_KEYS = 8


def _peak_rss_mb(pid: int | str = "self") -> float:
    """Peak resident set size (VmHWM) of a process, in MiB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for {pid}")


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if not f.startswith(("_", ".")) and f.endswith(".parquet"):
                total += os.path.getsize(os.path.join(root, f))
    return total


class Run:
    """State shared by every workload: session, tracer, directories."""

    def __init__(self, spark, seed: int, trace: bool, run_dir: str):
        self.spark = spark
        self.sc = spark.sparkContext
        self.seed = seed
        self.run_dir = run_dir
        self.tracer = Tracer(self.sc, enabled=trace)
        self.failures: list[str] = []
        self.attempted = 0

    def jvm_pid(self) -> int:
        return int(self.sc._jvm.java.lang.ProcessHandle.current().pid())

    def gc_seconds(self) -> float:
        beans = self.sc._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0


# ------------------------------------------------------------ workloads


class MedallionBatch:
    name = "medallion_batch"

    def __init__(self, run: Run):
        self.run = run
        self.src = None
        self.outputs: list[tuple[str, dict, dict]] = []  # (warehouse, manifest, dq rows)

    def prepare(self, dst: str) -> None:
        gen.write_sources(dst, self.run.seed, SOURCES)
        self.src = dst

    def warmup(self) -> None:
        """None: like a scheduled job, the first round runs in a fresh
        session, so JVM warm-up (class loading, code generation and
        compilation) is part of it. A warm-up job costs about as much as
        a round, which the run's time budget does not allow; a partial
        one (``runner.run`` on small inputs) made rounds less steady,
        not more."""

    def round(self, i: int, span) -> dict:
        from ecommerce_dbt_medallion_spark import api, runner

        spark, tr = self.run.spark, self.run.tracer
        qs = api.queries()
        wh = os.path.join(self.run.run_dir, "warehouse", f"round-{i:03d}")
        t0 = time.perf_counter()
        manifest = runner.run(spark, self.src, wh)
        t1 = time.perf_counter()
        dq = {}
        for q in DQ_TESTS:
            with tr.span(f"api.{q}", "api"):
                df = qs[q](spark, self.src)
            with tr.span("quality.exec", "quality"):
                dq[q] = (df.columns, df.collect())
        t2 = time.perf_counter()
        self.run.attempted += 1 + len(DQ_TESTS)
        self.outputs.append((wh, manifest, dq))
        if span is not None:
            span.attrs["silver_bytes"] = _dir_bytes(os.path.join(wh, "silver"))
        return {
            "round": t2 - t0,
            "writes": [t1 - t0],
            "reads": [t2 - t1],
            "written": _dir_bytes(wh),
            "input": _dir_bytes(self.src),
        }

    def check(self, oracle: Oracle) -> None:
        from ecommerce_dbt_medallion_spark import api

        sql = api.oracle_sql()
        for wh, manifest, dq in self.outputs:
            # one failure per operation: runner.run, then each DQ test set
            errs = []
            want = dict.fromkeys(RUN_VIEWS, "")
            want.update({m: os.path.join(wh, layer, m)
                         for layer, models in RUN_MODELS.items() for m in models})
            if manifest != want:
                errs.append(f"manifest {manifest}, expected {want}")
            for layer, models in RUN_MODELS.items():
                d = os.path.join(wh, layer)
                found = sorted(os.listdir(d)) if os.path.isdir(d) else []
                if found != sorted(models):
                    errs.append(f"{layer} tables {found}, expected {sorted(models)}")
                errs += [oracle.check_parquet(model, sql[model], os.path.join(d, model))
                         for model in models if model in found]
            errs = [e for e in errs if e]
            if errs:
                self.run.failures.append("runner.run: " + "; ".join(errs))
            for name, (cols, rows) in dq.items():
                err = oracle.check(name, sql[name], cols, rows)
                if err:
                    self.run.failures.append(err)

    def e2e(self, samples: list[dict]) -> dict:
        return {"round_p50_s": (median([s["round"] for s in samples]), "s"),
                "write_amp": _write_amp(samples)}


class MergeChurn:
    name = "merge_churn"

    def __init__(self, run: Run):
        self.run = run
        self.in_dir = None
        self.base: list[str] = []
        self.table = os.path.join(run.run_dir, "churn_table")
        self.ops: list[tuple[str, str]] = []  # version -> (op, input file)
        self.point_reads: list[tuple[int, list[int], list[str], list]] = []
        self.tt_reads: list[tuple[int, tuple]] = []
        self.schema = None

    def prepare(self, dst: str) -> None:
        self.base = gen.write_churn_base(dst, self.run.seed, CHURN)
        self.in_dir = dst

    def _source(self, path: str):
        from pyspark.sql.types import StructType

        if self.schema is None:
            self.schema = StructType.fromDDL(
                "k bigint, batch int, qty bigint, price double, tag string")
        return self.run.spark.read.schema(self.schema).parquet(path)

    def _batch(self, i: int) -> str:
        return gen.write_churn_batch(self.in_dir, self.run.seed, CHURN, i)

    def warmup(self) -> None:
        """Load the base table as one file per initial load (create, then
        appends, each staged driver-side from the rows in hand), then land
        the first batches, each with its reads, as a round would."""
        import pyarrow.parquet as pq

        from ecommerce_dbt_medallion_spark import lakehouse

        for j, path in enumerate(self.base):
            tbl = pq.read_table(path)
            rows = list(zip(*(tbl.column(c).to_pylist() for c in tbl.column_names)))
            load = lakehouse.create_or_replace if j == 0 else lakehouse.append
            load(self.run.spark, self.table, self._source(path), key="k", local_rows=rows)
            self.ops.append(("append", path))
        for b in range(CHURN_WARMUP_BATCHES):
            self._commit(b, self._batch(b))

    def _commit(self, b: int, path: str) -> dict:
        """Land batch ``b`` from ``path``, then read back: a point read of
        recent keys and a time-travel read of an earlier version."""
        from pyspark.sql import functions as F

        from ecommerce_dbt_medallion_spark import lakehouse

        spark, tr = self.run.spark, self.run.tracer
        size = "small" if gen.churn_batch_rows(CHURN, b) == CHURN.small_rows else "large"
        live_before = {a["file"] for a in lakehouse.live_files(self.table)}
        data_before = _dir_bytes(self.table)
        source = self._source(path)
        t0 = time.perf_counter()
        with tr.span("lakehouse.commit", "lakehouse", size=size) as commit:
            v = lakehouse.merge_into(spark, self.table, source, "k")
        t_commit = time.perf_counter() - t0
        self.ops.append(("merge", path))

        keys = gen.probe_keys(self.run.seed, gen.churn_next_key(CHURN, b + 1) - 1, PROBE_KEYS)
        t0 = time.perf_counter()
        with tr.span("lakehouse.point_read", "lakehouse", keys=keys, version=v):
            df = lakehouse.read_keys(spark, self.table, keys)
            rows = df.collect()
        t_point = time.perf_counter() - t0
        self.point_reads.append((v, keys, df.columns, rows))

        tv = random.Random(self.run.seed * 7_919 + b).randrange(0, v)
        t0 = time.perf_counter()
        with tr.span("lakehouse.time_travel", "lakehouse"):
            cs = lakehouse.read(spark, self.table, tv).agg(
                F.count("*"), F.sum("k"), F.sum("qty"), F.sum("batch")).collect()[0]
        t_tt = time.perf_counter() - t0
        self.tt_reads.append((tv, tuple(int(x or 0) for x in cs)))
        self.run.attempted += 3

        removed = len(live_before - {a["file"] for a in lakehouse.live_files(self.table)})
        written = _dir_bytes(self.table) - data_before
        if commit is not None:
            commit.attrs.update(rewrite_ratio=removed / len(live_before), bytes_written=written)
        return {"size": size, "commit": t_commit, "reads": [t_point, t_tt],
                "step": t_commit + t_point + t_tt,
                "written": written, "input": os.path.getsize(path)}

    def round(self, i: int, span) -> dict:
        """One small and one large commit, each with its two reads. A
        step's time is that of its commit and reads alone, without
        generating the batch."""
        batches = [CHURN_WARMUP_BATCHES + 2 * i + j for j in range(2)]
        paths = [self._batch(b) for b in batches]
        steps = [self._commit(b, path) for b, path in zip(batches, paths)]
        return {
            "steps": {s["size"]: s["step"] for s in steps},
            "writes": [s["commit"] for s in steps],
            "reads": [r for s in steps for r in s["reads"]],
            "written": sum(s["written"] for s in steps),
            "input": sum(s["input"] for s in steps),
        }

    def check(self, oracle: Oracle) -> None:
        replay = ChurnReplay()
        try:
            points = {v: (keys, cols, rows) for v, keys, cols, rows in self.point_reads}
            travels: dict[int, list[tuple]] = {}
            for tv, cs in self.tt_reads:
                travels.setdefault(tv, []).append(cs)
            for v, (op, path) in enumerate(self.ops):
                replay.apply(op, path)
                for cs in travels.get(v, []):
                    want = replay.checksum()
                    if cs != want:
                        self.run.failures.append(f"time travel v{v}: {cs} != {want}")
                if v in points:
                    keys, cols, rows = points[v]
                    oc, orows = replay.rows_for(keys)
                    err, _ = diff_rows(cols, rows, oc, orows)
                    if err:
                        self.run.failures.append(f"read_keys v{v}: {err}")
        finally:
            replay.close()

    def e2e(self, samples: list[dict]) -> dict:
        """``round_p50_s`` is the median small step plus the median large
        step (a step is a commit with its two reads): each median rests
        on every commit of its size in the run."""
        return {"round_p50_s": (sum(median([s["steps"][size] for s in samples])
                                    for size in ("small", "large")), "s"),
                "write_amp": _write_amp(samples)}


def _write_amp(samples: list[dict]) -> tuple[float, str]:
    """Bytes written per byte of input, over every round."""
    return sum(s["written"] for s in samples) / sum(s["input"] for s in samples), "ratio"


WORKLOADS = {w.name: w for w in (MedallionBatch, MergeChurn)}


# ------------------------------------------------------------ instrumentation


def instrument(tracer: Tracer) -> Instrumentation:
    """Spans around the engine's layer entry points, at every binding."""
    from ecommerce_dbt_medallion_spark import api, lakehouse, runner  # noqa: F401
    from ecommerce_dbt_medallion_spark.models import bronze, gold, silver
    from ecommerce_dbt_medallion_spark.quality import checks
    from ecommerce_dbt_medallion_spark.sources import mapping, registry

    ins = Instrumentation()

    def wrap_all(module, names, layer, prefix):
        for n in names:
            ins.wrap(tracer, module, n, f"{prefix}.{n}", layer)

    wrap_all(registry, ["load_table"], "sources", "sources")
    wrap_all(mapping, ["raw_customers", "raw_orders", "raw_payments", "raw_payments_unkeyed"],
             "sources", "sources")
    wrap_all(bronze, ["bronze_customers", "bronze_orders", "bronze_payments"],
             "models.bronze", "models.bronze")
    wrap_all(silver, ["silver_customers", "silver_orders", "silver_payments",
                      "silver_customers_df", "silver_orders_df", "silver_payments_df",
                      "silver_payments_for_agg"], "models.silver", "models.silver")
    wrap_all(gold, ["gold_customer_summary", "gold_customer_summary_df", "gold_order_metrics",
                    "gold_order_metrics_df", "gold_revenue_analysis",
                    "gold_revenue_analysis_df", "gold_rfm_segmentation", "churn_risk_score"],
             "models.gold", "models.gold")
    wrap_all(runner, ["run"], "runner", "runner")
    ins.wrap(tracer, runner, "_write",
             lambda a, k: "runner.write." + os.path.basename(os.path.dirname(a[1])), "runner")
    wrap_all(checks, ["dq_generic_tests", "dq_singular_tests"], "quality", "quality")
    wrap_all(lakehouse, ["create_or_replace", "append", "merge_into", "read_keys", "read"],
             "lakehouse", "lakehouse")
    ins.wrap(tracer, lakehouse, "_state_at", "lakehouse.log", "lakehouse")
    return ins


# ------------------------------------------------------------ run driver


def execute(spark, name: str, seed: int, seconds: float, trace: bool, run_dir: str,
            session_start_s: float) -> dict:
    """Run one workload; returns the result object (without printing)."""
    run = Run(spark, seed, trace, run_dir)
    wl = WORKLOADS[name](run)
    ins = instrument(run.tracer) if trace else None
    try:
        prep = []
        for r in range(PREPARE_REPEATS):
            t0 = time.perf_counter()
            wl.prepare(os.path.join(run_dir, "inputs", f"prep-{r}"))
            prep.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        wl.warmup()
        warmup_s = time.perf_counter() - t0
        setup_s = session_start_s + median(prep) + warmup_s

        gc0 = run.gc_seconds()
        samples, rounds = [], []
        t_start = time.perf_counter()
        i = 0
        while i == 0 or time.perf_counter() - t_start < seconds:
            with run.tracer.span("round", "bench", index=i) as span:
                samples.append(wl.round(i, span))
            if span is not None:
                rounds.append(span)
            i += 1
        gc_s = run.gc_seconds() - gc0
        for n, smp in enumerate(samples):
            print(f"round {n}: {smp}", file=sys.stderr)
        driver_rss = _peak_rss_mb()
        jvm_rss = _peak_rss_mb(run.jvm_pid())
    finally:
        if ins is not None:
            ins.restore()

    t_check = time.perf_counter()
    src = getattr(wl, "src", None)
    oracle = Oracle(src) if src else None
    try:
        wl.check(oracle)
        ties = oracle.ties if oracle is not None else 0
    finally:
        if oracle is not None:
            oracle.close()
    print(f"setup {setup_s:.1f} s (session {session_start_s:.1f} s, prepare "
          f"{' / '.join(f'{p:.2f}' for p in prep)} s, warm-up {warmup_s:.1f} s), "
          f"{len(samples)} rounds in {t_check - t_start:.1f} s, "
          f"checks {time.perf_counter() - t_check:.1f} s", file=sys.stderr)
    for kind in ("writes", "reads"):
        xs = [x for s in samples for x in s.get(kind, [])]
        t = tail(xs)
        if t is not None:
            print(f"{kind}: tail p{t[0]:.0%} = {t[1]:.4g} s over {len(xs)} samples "
                  f"({TAIL_BEYOND} beyond it)", file=sys.stderr)

    e2e = {"setup_s": (setup_s, "s"), "driver_peak_rss_mb": (driver_rss, "MB")}
    e2e.update(wl.e2e(samples))
    table = []
    if trace:
        run.tracer.harvest()
        metrics = layer_metrics(run, wl, rounds, session_start_s, gc_s, jvm_rss)
        table = layer_table(run.tracer, rounds)
    else:
        metrics = e2e
    return {
        "e2e": e2e,
        "layer_table": table,
        "correct": not run.failures,
        "attempted": run.attempted,
        "failed": len(run.failures),
        "failures": run.failures,
        "ties": ties,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        "rounds": len(samples),
    }


# ------------------------------------------------------------ per-layer


def _top(spans, pred):
    """Spans matching ``pred`` with no matching ancestor among ``spans``."""
    by_id = {s.id: s for s in spans}
    out = []
    for s in spans:
        if not pred(s):
            continue
        p = by_id.get(s.parent)
        while p is not None and not pred(p):
            p = by_id.get(p.parent)
        if p is None:
            out.append(s)
    return out


def layer_metrics(run: Run, wl, rounds, session_start_s, gc_s, jvm_rss) -> dict:
    from ecommerce_dbt_medallion_spark import lakehouse

    tr = run.tracer
    per_round: dict[str, list[float]] = {}

    def put(key, value):
        per_round.setdefault(key, []).append(value)

    for r in rounds:
        sub = tr.descendants(r)

        def dur(pred):
            return sum(s.duration for s in _top(sub, pred))

        def jobs(pred):
            return sum(tr.totals(s)["jobs"] for s in _top(sub, pred))

        def named(prefix):
            return lambda s: s.name.startswith(prefix)

        is_dq = named("quality.dq_")
        is_qx = named("quality.exec")
        put("quality.build_s", dur(is_dq))
        put("quality.exec_s", dur(is_qx))
        put("quality.jobs", jobs(lambda s: is_dq(s) or is_qx(s)))
        for layer in ("silver", "gold"):
            is_build = named(f"models.{layer}.")
            is_write = named(f"runner.write.{layer}")
            put(f"{layer}.build_s", dur(is_build))
            put(f"{layer}.write_s", dur(is_write))
            put(f"{layer}.jobs", jobs(lambda s, b=is_build, w=is_write: b(s) or w(s)))
        put("silver.bytes_written", r.attrs.get("silver_bytes", 0))
        put("runner.run_s", dur(named("runner.run")))
        put("runner.jobs", jobs(named("runner.run")))

        put("sources.load_calls", sum(1 for s in sub if s.name == "sources.load_table"))
        put("sources.load_s", dur(named("sources.load_table")))
        put("sources.raw_s", dur(named("sources.raw")))

        totals = tr.totals(r)
        for k in ("jobs", "stages", "tasks"):
            put(f"spark.{k}", totals[k])
        covered = union_length([(s.start, s.end) for s in sub if s.layer != "bench"],
                               r.start, r.end)
        put("trace.layer_share", covered / r.duration)

    # merge_churn: per commit size class, and the reads after each commit
    in_rounds = [s for r in rounds for s in tr.descendants(r)]

    def med(name, value, size=None):
        vals = [value(s) for s in in_rounds
                if s.name == name and (size is None or s.attrs.get("size") == size)]
        return median(vals) if vals else 0

    lake = {}
    for size in ("small", "large"):
        lake[f"lakehouse.commit_{size}_p50_s"] = med("lakehouse.commit", lambda s: s.duration, size)
        lake[f"lakehouse.merge_{size}_jobs"] = med(
            "lakehouse.commit", lambda s: tr.totals(s)["jobs"], size)
    lake["lakehouse.rewrite_ratio"] = med("lakehouse.commit", lambda s: s.attrs["rewrite_ratio"])
    lake["lakehouse.bytes_written_per_commit"] = med(
        "lakehouse.commit", lambda s: s.attrs["bytes_written"])
    lake["lakehouse.read_keys_s"] = med("lakehouse.point_read", lambda s: s.duration)
    lake["lakehouse.time_travel_s"] = med("lakehouse.time_travel", lambda s: s.duration)
    logs = _top(in_rounds, lambda s: s.name == "lakehouse.log")
    lake["lakehouse.log_s"] = sum(s.duration for s in logs) / max(1, len(rounds))
    lake["lakehouse.read_keys_files"] = med("lakehouse.point_read", lambda s: len(
        lakehouse.files_maybe_containing(run.spark, wl.table, s.attrs["keys"], s.attrs["version"])))

    units = {"_s": "s", "jobs": "count", "calls": "count", "stages": "count",
             "tasks": "count", "bytes_written": "bytes", "_per_commit": "bytes",
             "share": "ratio", "ratio": "ratio", "files": "count"}

    def unit(k):
        return next((u for suf, u in units.items() if k.endswith(suf)), "count")

    out = {k: (median(v), unit(k)) for k, v in per_round.items()}
    out.update({k: (v, unit(k)) for k, v in lake.items()})
    n = max(1, len(rounds))
    out["session.start_s"] = (session_start_s, "s")
    out["jvm.gc_s"] = (gc_s / n, "s")
    out["jvm.peak_rss_mb"] = (jvm_rss, "MB")
    return out
