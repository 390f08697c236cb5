"""ACON-level benchmark of lakehouse_engine_spark.

    python3 perfbench/run.py --workload cdc_merge --seed 1 --seconds 10 --trace 0

Runs one workload (``cdc_merge``, ``curation_acon``, ``gold_gab``, or
``all``) as a single-client closed loop on ``local[nproc]`` from the
root of a source checkout. Inputs are generated from ``--seed`` into a
work directory under ``perfbench/.work`` that is removed at the end.
Ops run back to back until ``--seconds`` have passed, and at least one
runs. Every op's output is checked against a DuckDB replay.

``--trace 0`` reports the end-to-end metrics; time and CPU per op and
peak RSS go to the compact summary line and the record only. ``--trace 1`` also wraps
each engine package's public calls in spans, writes Spark's event log,
and reports per-layer metrics. The full record (per-op samples, spans,
per-layer totals, loadavg) goes to ``perfbench/results/``. The last
stdout line is one JSON object: ``correct``, ``attempted``, ``failed``,
``metrics``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOAD_NAMES = ("cdc_merge", "curation_acon", "gold_gab")
# No op is left untimed to warm up: the first op in a fresh JVM pays class
# loading, code generation and JIT (two to three times a warm op), and a
# warm-up op plus a timed one make a run too long for three workloads to
# fit the runner's time budget. Op times in the record are therefore those
# of the first load in a fresh process
MIN_OPS = 1

# end-to-end metrics reported in the result line. On a shared VM, other
# tenants moved time per op, and CPU per op with it, by up to a third
# between runs of the same code, and the JVM heap's growth moved peak RSS
# by up to half, so those (RECORD_UNITS) go to the compact line and the
# record only
E2E_UNITS = {
    "setup_s": "s",
    "spark_jobs_per_acon": "jobs",
    "write_amp": "ratio",
}
RECORD_UNITS = {
    "acon_s_p50": "s", "rows_per_s": "rows/s", "cpu_s_per_acon": "CPU-s", "rss_peak_mb": "MB",
}

LAYERS = (
    "core.exec_env", "algorithms.data_loader", "algorithms.gab",
    "algorithms.reconciliator", "algorithms.dq_validator", "io.reader",
    "io.writer", "io.merge", "transformers", "datapipes", "dq", "terminators",
)
# per-layer metrics: times as a share of op wall time, counts per
# op, so a layer a workload never enters reads 0 rather than a 0 s time.
# Python-worker time and bytes are reported for datapipes only, the one
# layer with pandas/Arrow stages; the record keeps them for every layer
LAYER_FRACS = ("self", "driver", "job", "executor_cpu")
LAYER_COUNTS = ("jobs", "tasks", "shuffle_write_bytes")
OP_METRICS = {
    "op.wall_s": "s", "op.job_s": "s", "op.driver_s": "s", "op.unattributed_frac": "ratio",
    "op.executor_cpu_s": "CPU-s", "op.failed_tasks": "count", "op.errors": "count",
    "algorithms.data_loader.plan_frac": "ratio",
    "io.merge.rows_rewritten_per_row_changed": "ratio",
    "datapipes.python_worker_frac": "ratio", "datapipes.bytes_to_python": "bytes",
}


def layer_metric_units() -> dict:
    units = dict(OP_METRICS)
    for layer in LAYERS:
        units.update({f"{layer}.{f}_frac": "ratio" for f in LAYER_FRACS})
        units.update({
            f"{layer}.{c}": "bytes" if c.endswith("bytes") else "count" for c in LAYER_COUNTS
        })
    return units


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES + ("all",))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def process_age_s() -> float:
    """Seconds since this process started, from ``/proc``."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def engine_present() -> bool:
    return os.path.isdir(os.path.join(ROOT, "lakehouse_engine_spark")) and os.path.isfile(
        os.path.join(ROOT, "__spark_entry__.py")
    )


# ------------------------------------------------------------------ session


def start_session(work: str, trace: int):
    from lakehouse_engine_spark.core.exec_env import ExecEnv

    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.local.dir": os.path.join(work, "local"),
        # no hsperfdata files in the system temp dir: a run writes only
        # inside its checkout
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={work} -XX:-UsePerfData",
        "spark.driver.memory": "2g",
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": log_dir,
        })
    return ExecEnv.get_or_create(config=conf)


def stop_session(spark) -> None:
    """Stop Spark, then end the JVM and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


# ---------------------------------------------------------------- the loop


def run_op(wl, i, counters, tracer):
    """Prepare, run and check op ``i``; returns its sample dict.

    ``counters()`` returns cumulative counts (Spark jobs, CPU seconds);
    the sample holds their change over the op.
    """
    from workloads import dir_files, written_files

    rows, in_bytes = wl.prepare(i)
    before = dir_files(wl.sinks())
    start = counters()
    if tracer is not None:
        tracer.op = i
        root = tracer.open("op", "op")
    t0 = time.perf_counter()
    error = None
    try:
        wl.op(i)
    except Exception as exc:  # a failed op is counted, and the loop goes on
        error = exc
        traceback.print_exc(file=sys.stderr)
    wall = time.perf_counter() - t0
    if tracer is not None:
        tracer.close(root, error)
        tracer.op = None
    used = {k: v - start[k] for k, v in counters().items()}
    written = written_files(before, dir_files(wl.sinks()))
    ok = False
    if error is None:
        try:
            ok = wl.check(i, list(written))
        except Exception:  # a check that cannot run counts as failed
            traceback.print_exc(file=sys.stderr)
    if not ok:
        print(f"# {wl.name} op {i}: {'raised' if error else 'output check failed'}",
              file=sys.stderr)
    return {
        "op": i, "ok": ok, "wall_s": wall, **used,
        "rows": rows, "in_bytes": in_bytes,
        "written_bytes": sum(written.values()),
        **wl.extra,
    }


def end_to_end(samples, setup_s, rss_peak_mb):
    import procstat

    passed = [s for s in samples if s["ok"]]
    walls = [s["wall_s"] for s in passed]
    p, tail_v, n = procstat.tail(walls)
    attempted = len(samples)
    failed = sum(1 for s in samples if not s["ok"])
    metrics = {
        "setup_s": setup_s,
        "spark_jobs_per_acon": procstat.median([s["jobs"] for s in passed]),
        "write_amp": (sum(s["written_bytes"] for s in passed)
                      / max(sum(s["in_bytes"] for s in passed), 1)),
    }
    extra = {
        "acon_s_p50": procstat.median(walls),
        "rows_per_s": sum(s["rows"] for s in passed) / sum(walls) if walls else 0.0,
        "cpu_s_per_acon": procstat.median([s["cpu_s"] for s in passed]),
        "rss_peak_mb": rss_peak_mb,
        "acon_s_tail": {"value": tail_v, "percentile": p, "n": n},
        "failed_frac": failed / max(attempted, 1),
    }
    return metrics, extra, attempted, failed


def layer_record(tracer, samples) -> dict:
    """Per-layer totals over the ops that passed, divided by their number."""
    import spans as tr

    passed_ops = {s["op"] for s in samples if s["ok"]}
    n = max(len(passed_ops), 1)
    selfs = tr.self_times(tracer.spans)
    acc: dict = {}
    for sp in tracer.spans:
        if sp.op not in passed_ops:
            continue
        r = acc.setdefault(sp.layer, {"calls": 0, "self_s": 0.0, "wall_s": 0.0, "plan_s": 0.0,
                                 **{f: 0.0 for f in tr.EVENT_FIELDS}})
        r["calls"] += 1
        r["self_s"] += selfs[sp.id]
        r["wall_s"] += sp.end - sp.start
        if sp.layer == "algorithms.data_loader" and sp.name == "plan":
            r["plan_s"] += selfs[sp.id]
        for f in tr.EVENT_FIELDS:
            r[f] += sp.counters.get(f, 0)
    out = {}
    for key, r in acc.items():
        r = {k: v / n for k, v in r.items()}
        r["driver_s"] = r["self_s"] - r["job_s"]
        out[key] = r
    return out


def layer_metrics(layers: dict, samples) -> dict:
    """The reported per-layer metrics; a layer without spans reads 0."""
    op = layers.get("op", {})
    wall = op.get("wall_s", 0.0) or float("nan")
    totals = {f: sum(r.get(f, 0.0) for r in layers.values())
              for f in ("job_s", "executor_cpu_s", "failed_tasks", "errors")}
    passed = [s for s in samples if s["ok"]]
    changed = sum(s.get("rows_changed", 0) for s in passed)
    m = {
        "op.wall_s": wall,
        "op.job_s": totals["job_s"],
        "op.driver_s": wall - totals["job_s"],
        "op.unattributed_frac": op.get("self_s", 0.0) / wall,
        "op.executor_cpu_s": totals["executor_cpu_s"],
        "op.failed_tasks": totals["failed_tasks"],
        "op.errors": totals["errors"],
        "algorithms.data_loader.plan_frac":
            layers.get("algorithms.data_loader", {}).get("plan_s", 0.0) / wall,
        "io.merge.rows_rewritten_per_row_changed":
            sum(s.get("rows_rewritten", 0) for s in passed) / changed if changed else 0.0,
        "datapipes.python_worker_frac":
            layers.get("datapipes", {}).get("python_worker_s", 0.0) / wall,
        "datapipes.bytes_to_python": layers.get("datapipes", {}).get("bytes_to_python", 0.0),
    }
    for layer in LAYERS:
        r = layers.get(layer, {})
        for f in LAYER_FRACS:
            m[f"{layer}.{f}_frac"] = r.get(f"{f}_s", 0.0) / wall
        for c in LAYER_COUNTS:
            m[f"{layer}.{c}"] = r.get(c, 0.0)
    return m


def compact_line(name, seed, trace, metrics, extra, record) -> str:
    parts = [f"{name} seed={seed} trace={trace}"]
    parts += [f"{k}={v:.6g} {E2E_UNITS[k]}" for k, v in metrics.items()]
    parts += [f"{k}={extra[k]:.6g} {u}" for k, u in RECORD_UNITS.items()]
    t = extra["acon_s_tail"]
    parts.append(
        f"acon_s_tail={t['value']:.6g} s (p{t['percentile']:.0f}, n={t['n']})"
        if t["value"] is not None else f"acon_s_tail=n/a s (n={t['n']} <= 10)"
    )
    parts.append(f"failed_frac={extra['failed_frac']:.6g} ratio")
    if "tracing_overhead_s" in record:
        ov, un = record["tracing_overhead_s"], record["unattributed_frac"]
        parts.append("tracing_overhead_s=" + ("n/a" if ov is None else f"{ov:.4g}"))
        parts.append(f"unattributed_frac={un:.4g}")
    return " | ".join(parts)


def untraced_p50(name, seed):
    path = os.path.join(HERE, "results", f"{name}-s{seed}-t0.json")
    try:
        with open(path) as f:
            return json.load(f)["acon_s_p50"]
    except (OSError, KeyError, ValueError):
        return None


def measure(args, work: str, tracer):
    """Session, fixtures and the timed loop.

    Returns ``(samples, setup_s, phases, rss_peak_mb)``; the session is
    stopped and its JVM has exited when this returns.
    """
    import procstat
    from workloads import WORKLOADS

    name = args.workload
    spark = wl = None
    try:
        with procstat.RssSampler() as rss:
            phases = {"imports_s": process_age_s()}
            spark = start_session(work, args.trace)
            sc = spark.sparkContext
            if tracer:
                tracer.sc = sc
            phases["session_s"] = process_age_s()
            wl = WORKLOADS[name](spark, work, args.seed)
            wl.setup()
            phases["fixtures_s"] = process_age_s()
            dag, meter = sc._jsc.sc().dagScheduler(), procstat.CpuMeter()

            def counters():
                cpu, jit = meter.read()
                return {"jobs": dag.nextJobId(), "cpu_s": cpu - jit, "jit_cpu_s": jit}

            samples = []
            setup_s = process_age_s()
            t_end = time.perf_counter() + args.seconds
            while time.perf_counter() < t_end or len(samples) < MIN_OPS:
                samples.append(run_op(wl, len(samples), counters, tracer))
        return samples, setup_s, phases, rss.peak_mb
    finally:
        if wl is not None:
            wl.close()
        if spark is not None:
            stop_session(spark)


def run_one(args) -> dict:
    import gen
    import spans as tr

    name = args.workload
    work = os.path.join(HERE, ".work", f"{name}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "local", "in", "out"):
        os.makedirs(os.path.join(work, d))
    os.environ.update({
        "TMPDIR": os.path.join(work, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "SPARK_GRAFT_CPUS": str(os.cpu_count() or 1),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",  # spark-submit's launcher JVM
    })
    load_start = os.getloadavg()
    tracer = tr.Tracer() if args.trace else None
    try:
        uninstall = tr.install(tracer) if tracer else None
        try:
            samples, setup_s, phases, rss_peak_mb = measure(args, work, tracer)
        finally:
            if uninstall:
                uninstall()
        metrics, extra, attempted, failed = end_to_end(samples, setup_s, rss_peak_mb)
        record = {
            "workload": name, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
            "nproc": os.cpu_count(), "loadavg_start": load_start, "loadavg_end": os.getloadavg(),
            "generator": gen.SPEC, "setup_phases": phases,
            "metrics": metrics, **extra, "attempted": attempted, "failed": failed,
            "samples": samples,
        }
        out_metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in metrics.items()}
        if tracer:
            events = tr.read_events(tr.event_files(os.path.join(work, "eventlog")))
            tr.attach(tracer, tr.fold_event_log(events))
            layers = layer_record(tracer, samples)
            lm = layer_metrics(layers, samples)
            base = untraced_p50(name, args.seed)
            record.update({
                "layers": layers,
                "unattributed_frac": lm["op.unattributed_frac"],
                "tracing_overhead_s": None if base is None else extra["acon_s_p50"] - base,
                "layer_metrics": lm,
                "spans": [vars(s) for s in tracer.spans],
            })
            units = layer_metric_units()
            out_metrics = {k: {"value": v, "unit": units[k]} for k, v in lm.items()}
    finally:
        shutil.rmtree(work, ignore_errors=True)

    os.makedirs(os.path.join(HERE, "results"), exist_ok=True)
    path = os.path.join(HERE, "results", f"{name}-s{args.seed}-t{args.trace}.json")
    with open(path, "w") as f:
        json.dump(record, f, indent=1, default=str)
    print(compact_line(name, args.seed, args.trace, metrics, extra, record))
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": out_metrics}


def run_all(args) -> dict:
    """Each workload in its own process, one after the other."""
    result = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in WORKLOAD_NAMES:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=False)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            raise RuntimeError(f"{name} exited with code {proc.returncode}")
        print("\n".join(lines[:-1]), flush=True)
        child = json.loads(lines[-1])
        result["correct"] &= child["correct"]
        result["attempted"] += child["attempted"]
        result["failed"] += child["failed"]
        result["metrics"].update({f"{name}.{k}": v for k, v in child["metrics"].items()})
    return result


def main(argv=None) -> int:
    args = parse_args(argv)
    if not engine_present():
        print(f"perfbench: no lakehouse_engine_spark source under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    result = run_all(args) if args.workload == "all" else run_one(args)
    print(json.dumps(result, separators=(",", ":")), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
