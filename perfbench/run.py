"""The repository benchmark: one command per workload and seed.

    python3 perfbench/run.py --workload bi_queries --seed 1 --seconds 20 --trace 0

Generates the workload's inputs from the seed, starts one engine process
(it sets up a session, warms up, then runs ops in a closed loop for
``--seconds``), checks every output against an oracle, prints a report and,
as its last stdout line, one JSON object. With ``--trace 0`` the JSON carries the end-to-end metrics, with
``--trace 1`` the per-layer metrics (see BENCHMARK.json). Every run also
leaves a full record under ``perfbench/records/``. Exit code 0 only when
every op succeeded and every output matched its oracle.

Workloads, sizes and the steadiness protocol are described in README.md.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

ETL_RENTALS = 100_000
ETL_DAYS = 365
CORPUS_SF = 0.01
# the BI corpus is the same in every run (the engine's test corpus is drawn
# with seed 42 too); --seed picks the query order
CORPUS_SEED = 42
BI_QUERIES = [
    "monthly_revenue",
    "top10_parts",
    "filtered_daily_series",
    "fact_daily_orders",
    "fact_monthly_totals",
    "filter_pushdown",
    "join_inner_equi",
    "pricing_summary",
    "shipping_priority",
    "revenue_forecast_q6",
    "returned_items_topk",
    "regional_supplier_revenue",
    "large_volume_customers",
    "promo_revenue_monthly",
]
WORKLOADS = ("etl_nightly", "bi_queries")
# a run must end within 180 s
ENGINE_TIMEOUT_S = 150


class TreeSampler(threading.Thread):
    """Peak resident memory of a process and all its descendants (python
    driver + JVM + python workers), sampled from /proc every 200 ms. Keeps
    every pid seen so the caller can wait for all of them to end."""

    def __init__(self, pid: int) -> None:
        super().__init__(daemon=True)
        self.root, self.peak_kb, self.seen = pid, 0, {pid}
        self._stop_evt = threading.Event()

    def _tree(self) -> list[int]:
        children: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                try:
                    with open(f"/proc/{name}/stat") as f:
                        ppid = int(f.read().rsplit(")", 1)[1].split()[1])
                except (OSError, IndexError, ValueError):
                    continue
                children.setdefault(ppid, []).append(int(name))
        pids, i = [self.root], 0
        while i < len(pids):
            pids.extend(children.get(pids[i], ()))
            i += 1
        return pids

    def run(self) -> None:
        page_kb = os.sysconf("SC_PAGE_SIZE") // 1024
        while not self._stop_evt.wait(0.2):
            total = 0
            for pid in self._tree():
                self.seen.add(pid)
                try:
                    with open(f"/proc/{pid}/statm") as f:
                        total += int(f.read().split()[1])
                except OSError:
                    pass
            self.peak_kb = max(self.peak_kb, total * page_kb)

    def stop(self) -> None:
        self._stop_evt.set()
        self.join()


def wait_gone(pids: set[int], timeout: float = 60.0) -> None:
    """Wait until every pid has exited; kill what is left at the deadline."""
    deadline = time.time() + timeout
    while True:
        alive = [p for p in pids if os.path.exists(f"/proc/{p}") and not _zombie(p)]
        if not alive:
            return
        if time.time() > deadline:
            for p in alive:
                try:
                    os.kill(p, 9)
                except OSError:
                    pass
            deadline = time.time() + 10
        time.sleep(0.05)


def _zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True


def run_engine(spec: dict, work: str, env: dict) -> tuple[dict, int]:
    """Run the engine process to completion; return its result and peak RSS."""
    spec_path = os.path.join(work, "spec.json")
    out_path = os.path.join(work, "result.json")
    log_path = os.path.join(work, "engine.log")
    with open(spec_path, "w") as f:
        json.dump(spec, f)
    with open(log_path, "w") as log:
        t0 = time.time()
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "engine.py"), spec_path, out_path, repr(t0)],
            stdout=log,
            stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL,
            env=env,
            cwd=work,
        )
        sampler = TreeSampler(proc.pid)
        sampler.start()
        try:
            code = proc.wait(timeout=ENGINE_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            code = proc.wait()
        finally:
            sampler.stop()
            wait_gone(sampler.seen)
    if code != 0 or not os.path.exists(out_path):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        raise RuntimeError(f"engine process exited with code {code}")
    with open(out_path) as f:
        return json.load(f), sampler.peak_kb // 1024


def cpu_ticks() -> tuple[int, int]:
    """(stolen, total) CPU ticks of the machine so far, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def source_fingerprint() -> str:
    h = hashlib.sha256()
    for path in sorted(glob.glob(os.path.join(ROOT, "filmdatawarehouse_spark", "**", "*.py"), recursive=True)):
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def git_commit() -> str | None:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        return subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True, check=True
        ).stdout.strip()
    except (OSError, subprocess.CalledProcessError):
        return None


def layer_metrics(result: dict, manifest: dict | None) -> tuple[dict, list[dict]]:
    """Per-layer metrics from the traced engine process's spans.

    Self time of a layer = its spans' durations minus their child spans.
    Shares are of the summed op time, so across layers they add to 100%
    (``bench`` is the benchmark's own glue between calls).
    """
    from spans import self_times

    spans = result["spans"]
    own = self_times(spans)
    ops = [s for s in spans if s["layer"] == "bench"]
    op_total = sum(s["end"] - s["start"] for s in ops)
    n_ops = len(ops)
    by_layer: dict[str, list[dict]] = {}
    for s in spans:
        by_layer.setdefault(s["layer"], []).append(s)

    def self_s(layer: str) -> float:
        return sum(own[s["id"]] for s in by_layer.get(layer, []))

    def pct(layer: str) -> float:
        return 100.0 * self_s(layer) / op_total

    def per_op(layer: str, key: str) -> float:
        return sum(s.get(key, 0) for s in by_layer.get(layer, [])) / n_ops

    writes = by_layer.get("sinks.write_table", []) + by_layer.get("sinks.write_fact", [])
    files = sum(s["files"] for s in writes)
    nbytes = sum(s["bytes"] for s in writes)
    cleaned = result["cleaned"]
    overhead = [result["job_overhead_ms_before"], result["job_overhead_ms_after"]]
    releases = by_layer["cache"]
    metrics = {
        "trace.op_p50_s": statistics.median([s["end"] - s["start"] for s in ops]),
        "trace.overhead_pct": tracing_overhead(result["ops"], result["untraced_ops"]),
        "bench.self_pct": pct("bench"),
        "session.job_overhead_ms": statistics.median(overhead),
        "cache.release_s": statistics.median([s["end"] - s["start"] for s in releases]),
        "cache.frames_released": per_op("cache", "frames"),
        "runner.attempts": len(by_layer.get("runner", [])) / n_ops,
        "runner.self_pct": pct("runner"),
        "jobs.build_pct": pct("jobs.build"),
        "cleaning.rows_in": sum(c[2] for c in cleaned) / n_ops,
        "cleaning.rows_removed": sum(c[4] for c in cleaned) / n_ops,
        "sinks.write_table_pct": pct("sinks.write_table"),
        "sinks.write_fact_pct": pct("sinks.write_fact"),
        "sinks.files_written": files / n_ops,
        "sinks.bytes_written": nbytes / n_ops,
        "sinks.bytes_per_file": nbytes / files if files else 0.0,
        "sinks.tasks": sum(s.get("tasks", 0) for s in writes) / n_ops,
        "sinks.failed_tasks": sum(s.get("failed_tasks", 0) for s in writes) / n_ops,
        "queries.build_pct": pct("queries.build"),
        "queries.execute_pct": pct("queries.execute"),
        "queries.probe_jobs": per_op("queries.build", "jobs"),
        "queries.jobs": per_op("queries.execute", "jobs"),
        "queries.stages": per_op("queries.execute", "stages"),
        "queries.tasks": per_op("queries.execute", "tasks"),
        "queries.failed_tasks": per_op("queries.build", "failed_tasks")
        + per_op("queries.execute", "failed_tasks"),
    }
    # absolute self seconds per op, for the report and the record
    for layer in sorted(by_layer):
        metrics[f"{layer}.self_s_per_op"] = self_s(layer) / n_ops
    # every load must drop exactly the generator's injected dirty rows
    checks = []
    if manifest is not None:
        removed: dict[str, int] = {}
        for job, _table, _n_in, _n_out, n_removed in cleaned:
            removed[job] = removed.get(job, 0) + n_removed
        for job, want in manifest["expected_removed"].items():
            got, want = removed.get(job, 0), want * n_ops
            checks.append({"check": f"cleaning.rows_removed[{job}]", "ok": got == want, "got": got, "want": want})
    return metrics, checks


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "filmdatawarehouse_spark", "__init__.py")):
        sys.stderr.write("perfbench: filmdatawarehouse_spark not found next to perfbench/\n")
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)

    import gen
    import oracle

    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(HERE, "_work", run_id)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    env = dict(
        os.environ,
        SPARK_GRAFT_CPUS=cpus,
        PYTHONPATH=os.pathsep.join([ROOT, HERE]),
        SPARK_LOCAL_DIRS=os.path.join(work, "tmp"),
        TMPDIR=os.path.join(work, "tmp"),
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
    )
    env.pop("PYSPARK_SUBMIT_ARGS", None)
    try:
        spec = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
                "seconds": args.seconds, "collect_dir": os.path.join(work, "collected")}
        t = time.perf_counter()
        if args.workload == "etl_nightly":
            spec["sources_dir"] = os.path.join(work, "sources")
            spec["warehouse_dir"] = os.path.join(work, "warehouse")
            manifest = gen.write_sakila(spec["sources_dir"], args.seed, ETL_RENTALS, ETL_DAYS)
            want = oracle.expected(spec["sources_dir"])
            inputs = {"rentals": ETL_RENTALS, "days": ETL_DAYS, **manifest["rows"]}
        else:
            spec["corpus_dir"] = os.path.join(work, "corpus")
            spec["queries"] = BI_QUERIES
            manifest = None
            inputs = {"sf": CORPUS_SF, **gen.write_corpus(spec["corpus_dir"], CORPUS_SEED, CORPUS_SF)}
        prepare_s = time.perf_counter() - t

        steal0 = cpu_ticks()
        result, peak = run_engine(spec, work, env)
        steal1 = cpu_ticks()
        checks = list(result["checks"])
        if args.workload == "bi_queries":
            checks += oracle.registry_checks(ROOT, spec["corpus_dir"], spec["collect_dir"], BI_QUERIES)
        else:
            got = oracle.written(spec["warehouse_dir"])
            checks += [{"check": name, "ok": got[name] == tuple(want[name]), "got": got[name], "want": want[name]}
                       for name in oracle.COLUMNS]
    finally:
        shutil.rmtree(work, ignore_errors=True)

    ops = result["ops"]
    ok_times = [o[1] for o in ops if o[2] is None]
    failed_ops = [o for o in ops if o[2] is not None]
    e2e = {
        "setup_s": result["setup_s"],
        "op_p50_s": statistics.median(ok_times or [o[1] for o in ops]),
        "ops_per_s": len(ok_times) / result["timed_s"],
        "peak_rss_mb": peak,
    }
    layers = {}
    if args.trace:
        layers, more = layer_metrics(result, manifest)
        checks += more
    failed_checks = [c for c in checks if not c["ok"]]
    attempted = len(ops) + len(checks)
    failed = len(failed_ops) + len(failed_checks)

    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "cpus": int(cpus), "inputs": inputs, "prepare_s": prepare_s,
        # CPU time the hypervisor gave to other guests while the engine ran
        "steal_pct": 100.0 * (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]),
        "pyspark": _pyspark_version(), "python": platform.python_version(),
        "git_commit": git_commit(), "source_sha": source_fingerprint(),
        "end_to_end": e2e, "per_layer": layers, "ops": ops, "checks": checks,
        "session_s": result["session_s"],
        "attempted": attempted, "failed": failed,
    }
    if len(ok_times) >= 100:
        record["end_to_end"]["op_p90_s"] = statistics.quantiles(ok_times, n=10)[-1]
    if args.trace:
        record["untraced_ops"] = result["untraced_ops"]
        record["spans"] = result["spans"]
    os.makedirs(os.path.join(HERE, "records"), exist_ok=True)
    with open(os.path.join(HERE, "records", f"{run_id}.json"), "w") as f:
        json.dump(record, f, indent=1)

    report(record, failed_ops, failed_checks)
    correct = failed == 0
    wanted = bench["per_layer"] if args.trace else bench["end_to_end"]
    source = layers if args.trace else e2e
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {m["name"]: {"value": source[m["name"]], "unit": m["unit"]} for m in wanted},
    }))
    return 0 if correct else 1


def _pyspark_version() -> str:
    from importlib.metadata import version

    return version("pyspark")


def tracing_overhead(traced: list, untraced: list) -> float:
    """Traced vs untraced op time of the same run, in %: per op name the
    mean time of each kind, summed over the names both kinds ran."""
    def means(ops: list) -> dict[str, float]:
        by: dict[str, list[float]] = {}
        for name, t, err in ops:
            if err is None:
                by.setdefault(name, []).append(t)
        return {n: statistics.fmean(ts) for n, ts in by.items()}

    t, u = means(traced), means(untraced)
    names = t.keys() & u.keys()
    return 100.0 * (sum(t[n] for n in names) / sum(u[n] for n in names) - 1)


def report(record: dict, failed_ops: list, failed_checks: list) -> None:
    e2e = record["end_to_end"]
    n = len(record["ops"])
    print(f"perfbench {record['workload']} seed={record['seed']} cpus={record['cpus']} "
          f"pyspark={record['pyspark']} source={record['source_sha']} commit={record['git_commit']}")
    print(f"  inputs: {record['inputs']}")
    print(f"  setup_s      {e2e['setup_s']:.3f} s   (session ready after {record['session_s']:.3f} s)")
    print(f"  op_p50_s     {e2e['op_p50_s']:.4f} s  ({n} ops)")
    if "op_p90_s" in e2e:
        print(f"  op_p90_s     {e2e['op_p90_s']:.4f} s  ({n} ops)")
    else:
        print(f"  op_p90_s     n/a (needs 100 ops, have {n})")
    print(f"  ops_per_s    {e2e['ops_per_s']:.4f} 1/s")
    print(f"  peak_rss_mb  {e2e['peak_rss_mb']:.0f} MB")
    print(f"  (CPU stolen by other guests while the engine ran: {record['steal_pct']:.1f}%)")
    print(f"  error_ratio  {record['failed'] / record['attempted']:.4f}  "
          f"({record['failed']} failed / {record['attempted']} attempted)")
    for name, value in sorted(record["per_layer"].items()):
        print(f"  {name:34s} {value:.6g}")
    if record["trace"]:
        print(f"  tracing overhead: {record['per_layer']['trace.overhead_pct']:+.1f}% on op time "
              f"({len(record['untraced_ops'])} ops run untraced in the same processes)")
    for o in failed_ops:
        print(f"  FAILED op {o[0]}: {o[2]}")
    for c in failed_checks:
        print(f"  FAILED check {c['check']}: {c.get('error', c)}")


if __name__ == "__main__":
    raise SystemExit(main())
