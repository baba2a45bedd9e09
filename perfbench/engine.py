"""One engine process: set up a session, warm up, run ops in a closed loop.

Started by ``run.py`` with a JSON spec; writes a JSON result. One client
thread calls the engine and waits for each call to finish before the next,
the way an Airflow task or a BI user does. Setup is timed from the parent's
spawn of this process to the end of the warm-up: two loads, or one collect
of every query (saved for the parent's oracle check) and one pass through
the timed path. Input
generation and every oracle run in the parent; this process only drives
Spark.

Untraced processes time ops only. Traced processes wrap every call into an
engine module in a span (``spans.py``); for the ETL load that means wrapping
the public ``build_*`` functions, ``CleanObserver.flush`` and the runner's
jobs, because ``wire_reference_dag`` calls them itself. A traced process
runs its timed window as four half-length windows, spans switched off in
the first and the last, so a traced run measures its own tracing overhead.
"""

from __future__ import annotations

import json
import os
import random
import statistics
import sys
import time
from itertools import count

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

ETL_TABLES = ("staff", "film", "store", "rental", "inventory", "payment")
ETL_BUILDERS = (
    "build_dim_staff",
    "build_dim_film",
    "build_dim_store",
    "build_dim_date",
    "build_dim_rental",
    "build_fact_daily_inventory",
    "build_fact_monthly_payment",
)


def _job_overhead_ms(spark, n: int = 7) -> float:
    """Median wall time of a trivial one-task ``noop`` job."""
    times = []
    for _ in range(n):
        t = time.perf_counter()
        spark.range(1).write.format("noop").mode("overwrite").save()
        times.append((time.perf_counter() - t) * 1000)
    return statistics.median(times)


def _dir_files(path: str) -> tuple[int, int]:
    files = size = 0
    for dirpath, _dirs, names in os.walk(path):
        for name in names:
            if name.startswith("part-"):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, name))
    return files, size


class EtlLoad:
    """The nightly load: ``wire_reference_dag(...).run()`` into parquet."""

    def __init__(self, spark, spec: dict, tracer) -> None:
        from filmdatawarehouse_spark.io import sinks
        from filmdatawarehouse_spark.warehouse import jobs

        self.spark, self.tracer, self.sinks, self.jobs = spark, tracer, sinks, jobs
        self.out = spec["warehouse_dir"]
        self.sources = {
            t: spark.read.parquet(f"{spec['sources_dir']}/{t}.parquet") for t in ETL_TABLES
        }
        self.cleaned: list[tuple] = []
        self._current_job = ""
        if tracer is not None:
            self._wrap_library()

    def _wrap_library(self) -> None:
        from filmdatawarehouse_spark.operators.cleaning import CleanObserver

        tracer = self.tracer
        for name in ETL_BUILDERS:
            fn = getattr(self.jobs, name)

            def build(*args, _fn=fn, _name=name, **kwargs):
                with tracer.span(_name, "jobs.build", jobs=True):
                    return _fn(*args, **kwargs)

            setattr(self.jobs, name, build)

        flush = CleanObserver.flush

        def traced_flush(observer):
            with tracer.span("flush", "cleaning"):
                rows = flush(observer)
            if tracer.enabled:
                self.cleaned.extend((self._current_job, *r) for r in rows)
            return rows

        CleanObserver.flush = traced_flush

    def _write(self, name: str, df) -> None:
        path = f"{self.out}/{name}"
        fact = name.startswith("fact_")
        write = self.sinks.write_fact if fact else self.sinks.write_table
        if self.tracer is None or not self.tracer.enabled:
            write(df, path)
            return
        layer = "sinks.write_fact" if fact else "sinks.write_table"
        with self.tracer.span(name, layer, jobs=True) as rec:
            write(df, path)
        rec["files"], rec["bytes"] = _dir_files(path)

    def _runner(self):
        from filmdatawarehouse_spark.runner import JobRunner

        if self.tracer is None:
            return JobRunner()
        load = self

        class TracedRunner(JobRunner):
            def add(self, name, fn, *args, **kwargs):
                def run_job():
                    load._current_job = name
                    with load.tracer.span(name, "runner"):
                        fn()

                return super().add(name, run_job, *args, **kwargs)

        return TracedRunner()

    def pass_len(self) -> int:
        return 1

    def op(self) -> str:
        self.jobs.wire_reference_dag(
            self.spark, self.sources, self._write, runner=self._runner()
        ).run()
        return "load"


class RegistryBatch:
    """Registry queries, each built, materialized through ``noop`` and
    followed by ``release_managed()`` (the service contract of
    ``operators/cache.py``).

    A pass is every query once, in an order drawn from the seed."""

    def __init__(self, spark, spec: dict, tracer) -> None:
        from filmdatawarehouse_spark.queries.registry import all_queries

        registry = all_queries()
        self.spark, self.tracer = spark, tracer
        self.corpus = spec["corpus_dir"]
        self.queries = {n: registry[n] for n in spec["queries"]}
        self.rng = random.Random(spec["seed"])
        self.order: list[str] = []

    def op(self) -> str:
        if not self.order:
            self.order = list(self.queries)
            self.rng.shuffle(self.order)
        name = self.order.pop()
        build = self.queries[name][0]
        if self.tracer is None:
            df = build(self.spark, self.corpus)
            df.write.format("noop").mode("overwrite").save()
            return name
        with self.tracer.span(name, "queries.build", jobs=True):
            df = build(self.spark, self.corpus)
        with self.tracer.span(name, "queries.execute", jobs=True):
            df.write.format("noop").mode("overwrite").save()
        return name

    def pass_len(self) -> int:
        return len(self.queries)

    def warm_up(self, out_dir: str, release) -> list[dict]:
        """The warm-up pass: every query is built and collected once, and its
        result saved to ``out_dir/<name>.parquet`` for the parent's oracle
        comparison. Returns a failed check for each query that raised."""
        os.makedirs(out_dir, exist_ok=True)
        failed = []
        for name, (build, _oracle) in self.queries.items():
            try:
                build(self.spark, self.corpus).toPandas().to_parquet(f"{out_dir}/{name}.parquet")
            except Exception as exc:  # reported as a failed check, never fatal
                failed.append({"check": name, "ok": False, "error": f"{type(exc).__name__}: {exc}"[:500]})
            release()
        return failed


def timed_window(work, one_op, seconds: float) -> tuple[list, float]:
    """Ops in whole passes (one load, or every query once); another pass
    starts only if it should end within ``seconds``. Returns the ops and
    the window's wall time."""
    per_pass = work.pass_len()
    ops = []
    start = time.perf_counter()
    while True:
        pass_start = time.perf_counter()
        ops.extend(one_op() for _ in range(per_pass))
        now = time.perf_counter()
        if now - start + (now - pass_start) > seconds:
            break
    return ops, time.perf_counter() - start


def main() -> int:
    t0 = float(sys.argv[3])
    with open(sys.argv[1]) as f:
        spec = json.load(f)
    from filmdatawarehouse_spark.operators.cache import release_managed
    from filmdatawarehouse_spark.session import get_spark

    spark = get_spark(f"perfbench-{spec['workload']}")
    session_s = time.time() - t0
    tracer = None
    if spec["trace"]:
        from spans import Tracer

        tracer = Tracer(spark)
    kind = EtlLoad if spec["workload"] == "etl_nightly" else RegistryBatch
    work = kind(spark, spec, tracer)
    requests = count()

    def one_op() -> tuple[str, float, str | None]:
        start = time.perf_counter()
        try:
            if tracer is None:
                name = work.op()
                release_managed()
            else:
                tracer.request = next(requests)
                with tracer.span("op", "bench") as rec:
                    name = work.op()
                    with tracer.span("release_managed", "cache") as rel:
                        rel["frames"] = release_managed()
                rec["name"] = name
            return name, time.perf_counter() - start, None
        except Exception as exc:  # a failed op is counted, never fatal
            release_managed()
            return "?", time.perf_counter() - start, f"{type(exc).__name__}: {exc}"[:500]

    # the cold pass (for queries, the collect the oracles check), then one
    # more pass through the timed path: the first pass after the cold one
    # still took 15-25% (a query pass) to 15-75% (a load) longer than later ones
    checks = work.warm_up(spec["collect_dir"], release_managed) if isinstance(work, RegistryBatch) else []
    cold_passes = 0 if isinstance(work, RegistryBatch) else 1
    warm = [one_op() for _ in range((cold_passes + 1) * work.pass_len())]
    checks += [{"check": f"warm-up {name}", "ok": False, "error": err} for name, _t, err in warm if err]
    setup_s = time.time() - t0
    result = {"setup_s": setup_s, "session_s": session_s, "checks": checks}
    if tracer is None:
        result["ops"], result["timed_s"] = timed_window(work, one_op, spec["seconds"])
    else:
        # four windows of half length, untraced-traced-traced-untraced, so
        # that the plans still warming during the run favour neither kind
        tracer.spans.clear()
        cleaned = work.cleaned if isinstance(work, EtlLoad) else []
        cleaned.clear()
        result["job_overhead_ms_before"] = _job_overhead_ms(spark)
        result.update(ops=[], timed_s=0.0, untraced_ops=[])
        for traced in (False, True, True, False):
            tracer.enabled = traced
            ops, timed_s = timed_window(work, one_op, spec["seconds"] / 2)
            if traced:
                result["ops"] += ops
                result["timed_s"] += timed_s
            else:
                result["untraced_ops"] += ops
        result["job_overhead_ms_after"] = _job_overhead_ms(spark)
        result.update(spans=tracer.spans, cleaned=cleaned)
    with open(sys.argv[2], "w") as f:
        json.dump(result, f)
    _stop(spark)
    return 0


def _stop(spark) -> None:
    """Stop the session and wait for its JVM to exit (it exits when its
    stdin closes), so no process outlives this one."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()
        proc.wait(timeout=60)


if __name__ == "__main__":
    raise SystemExit(main())
