"""End-to-end benchmark of covid_19_fl_spark.

    python3 perfbench/run.py --workload daily_pipeline --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 20 --trace 1
    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 20 --repeat 5

One client, closed loop: a single driver process on ``local[<cores - 1>]``
calls the program and waits for each call. Inputs are generated from
``--seed`` inside the checkout (``.perfbench_work/``, removed on exit).
Every timed result is consumed in full (the program's own sink write
or a ``noop`` write), every output is checked outside the timed window,
and the last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer ones (and writes the
span tree to ``.perfbench_out/``). ``--repeat N`` is the steadiness
mode: it runs the workload N times with seeds seed..seed+N-1 and prints
each metric's median and quartiles. The exit code is non-zero when an
output is wrong or the program cannot be imported.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("daily_pipeline", "query_mix")
# Input sizes. The per-stage and per-query costs at these sizes are
# dominated by Spark's per-job fixed cost on a 4-core host, as they are
# at the reference's real daily volume (a few thousand lines a day).
DAILY = {"n_cases": 20_000, "n_days": 30, "n_drops": 1, "drop_cases": 2_000}
QUERY_SF = 0.002
CORPUS_TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events", "documents"]
END_TO_END = {"setup_s": "s", "wall_s": "s", "op_p50_s": "s"}


def per_layer_names() -> list[str]:
    """Every per-layer metric a traced run reports, on either workload
    (a layer a workload does not use reports 0)."""
    from workloads import FAMILIES, QUERY_MIX

    names = ["session.get_spark_s", "session.import_s", "session.jvm_rss_mb",
             "session.first_pass_s", "session.peak_rss_mb",
             "sources.read_s", "sources.rows", "sources.input_bytes",
             "ingest.normalize_s", "ingest.attach_location_s"]
    for st in ("csv_ingest", "stats", "county_stats"):
        names += [f"pipelines.{st}_s"] + [f"pipelines.{st}.{k}" for k in ("jobs", "stages", "tasks")]
    names += ["pipelines.shuffle_write_bytes",
              "sinks.overwrite_s", "sinks.replace_where_s", "sinks.bytes_written",
              "sinks.files_written", "sinks.write_amp", "sinks.table_files",
              "incremental.rows_arrived", "incremental.rows_appended",
              "incremental.useful_ratio", "incremental.rows_updated"]
    for q in ("append", "merge"):
        names += [f"streaming.{q}.{k}" for k in ("batches", "trigger_ms_p50", "add_batch_ms_p50", "overhead_ms_p50", "jobs_per_batch")]
    names += ["suite.build_s", "suite.materialize_s"]
    for q in QUERY_MIX:
        names += [f"query.{q}.s", f"query.{q}.count_s", f"query.{q}.jobs"]
    for f in FAMILIES:
        names += [f"family.{f}.{k}" for k in ("jobs", "tasks", "shuffle_write_bytes", "spill_bytes", "executor_run_ms")]
    names += ["trace.untraced_wall_s", "trace.traced_wall_s", "trace.overhead_s"]
    return names


def unit_of(name: str) -> str:
    if name.endswith(("_s", ".s")):
        return "s"
    if name.endswith("_ms") or "_ms_" in name:
        return "ms"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_bytes") or name.endswith("bytes_written"):
        return "bytes"
    if name.endswith(("_ratio", "_amp", "per_batch")):
        return "ratio"
    return "count"


# ---------------------------------------------------------------------------
# Process set-up
# ---------------------------------------------------------------------------


def spark_env(work: str) -> dict:
    """Environment that keeps Spark's scratch files inside ``work``."""
    dirs = {k: os.path.join(work, k) for k in ("spark-local", "tmp", "jvm-tmp")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    return {
        "SPARK_LOCAL_DIRS": dirs["spark-local"],
        "TMPDIR": dirs["tmp"],
        "SPARK_DRIVER_MEM": "2g",
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "PYSPARK_SUBMIT_ARGS": "--conf spark.ui.showConsoleProgress=false pyspark-shell",
        # Every JVM, the spark-submit launcher too: temp files inside
        # ``work`` and no hsperfdata file under /tmp.
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={dirs['jvm-tmp']} -XX:-UsePerfData",
    }


def process_age_s() -> float:
    """Seconds since this process started (from /proc)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def set_up():
    """Start the engine the way a scheduled CLI run does. Returns the
    session and the timings of its two steps."""
    sys.path.insert(0, ROOT)
    import covid_19_fl_spark

    pkg = os.path.dirname(os.path.abspath(covid_19_fl_spark.__file__))
    if os.path.dirname(pkg) != ROOT:
        raise ImportError(f"covid_19_fl_spark resolved to {pkg}, not this checkout")
    from covid_19_fl_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark()
    t1 = time.perf_counter()
    import covid_19_fl_spark.suite  # noqa: F401  (registers every query)

    return spark, t1 - t0, time.perf_counter() - t1


def shut_down(spark) -> None:
    """Stop the session and wait until its JVM has exited (the gateway
    JVM exits when its stdin closes)."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def status_mb(pid: int | str, field: str) -> float:
    """A memory field of /proc/<pid>/status (VmRSS, VmHWM) in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(field + ":"):
                return int(line.split()[1]) / 1024
    raise KeyError(field)


# ---------------------------------------------------------------------------
# One run
# ---------------------------------------------------------------------------


def leave_one_core_free() -> None:
    """Run this process, and every process it starts, on all but one of
    the cores it may use. On a shared host a run that keeps every core
    busy has its neighbours' load taken from it as stolen time, and a
    Spark job waits for its slowest thread, so its times swing with that
    load; measured on a 4-core host, three cores were as fast and far
    steadier."""
    cpus = sorted(os.sched_getaffinity(0))
    os.sched_setaffinity(0, cpus[: max(1, len(cpus) - 1)])


def run(args) -> dict:
    leave_one_core_free()
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.environ.update(spark_env(work))
    spark = None
    try:
        spark, get_spark_s, import_s = set_up()
        setup_s = process_age_s()
        sys.path.insert(0, HERE)
        import workloads as W
        from spans import Tracer, check_tree

        jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
        res = {"session.get_spark_s": get_spark_s, "session.import_s": import_s,
               "session.jvm_rss_mb": status_mb(jvm_pid, "VmRSS")}
        plain = Tracer(spark, False)
        if args.workload == "daily_pipeline":
            out = _daily(spark, W, plain, work, args)
        else:
            out = _queries(spark, W, plain, work, args)
        if args.trace:
            tree = out.pop("spans")
            errs = check_tree(tree)
            if errs:
                raise RuntimeError("malformed span tree: " + "; ".join(errs))
            os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
            with open(os.path.join(ROOT, ".perfbench_out", f"spans-{args.workload}-{args.seed}.json"), "w") as f:
                json.dump(tree, f)
            layers = dict.fromkeys(per_layer_names(), 0)
            layers.update(res)
            layers["session.peak_rss_mb"] = status_mb("self", "VmHWM") + status_mb(jvm_pid, "VmHWM")
            layers.update(out["layers"])
            metrics = {k: {"value": layers[k], "unit": unit_of(k)} for k in per_layer_names()}
        else:
            e2e = dict(out["e2e"], setup_s=setup_s)
            metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
        return {"correct": out["failed"] == 0, "attempted": out["attempted"],
                "failed": out["failed"], "metrics": metrics}
    finally:
        if spark is not None:
            shut_down(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's inputs are still there


def note(what: str) -> None:
    print(f"[{process_age_s():6.1f} s] {what}", file=sys.stderr, flush=True)


def cpu_steal() -> tuple[int, int]:
    """(steal ticks, all ticks) of the host CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def _log_ops(passes: list[dict[str, float]]) -> None:
    """Log each operation's time in every timed pass."""
    for k in passes[0]:
        print(f"  {k:28s} " + " ".join(f"{p[k]:7.3f}" for p in passes), file=sys.stderr)


def _timed_passes(fn, seconds: float) -> list:
    """Run ``fn`` until ``seconds`` have passed, at least once. Logs each
    pass's wall time and the share of CPU time the hypervisor stole,
    which is the usual cause of an outlier."""
    outs, t0 = [], time.perf_counter()
    while not outs or time.perf_counter() - t0 < seconds:
        s0, a0 = cpu_steal()
        p0 = time.perf_counter()
        outs.append(fn())
        s1, a1 = cpu_steal()
        print(f"pass {len(outs)}: {time.perf_counter() - p0:.3f} s, steal {(s1 - s0) / max(a1 - a0, 1):.1%}", file=sys.stderr)
    return outs


def typical_pass_s(passes: list[dict[str, float]], total: list[float]) -> float:
    """The time of a typical pass: the sum over its operations of each
    one's median over the passes, plus the median of what the passes
    spent outside them. A slowdown that hits one operation of one pass
    moves this less than it moves that pass's total."""
    rest = [t - sum(p.values()) for p, t in zip(passes, total)]
    return sum(statistics.median(p[k] for p in passes) for k in passes[0]) + statistics.median(rest)


def _daily(spark, W, plain, work, args) -> dict:
    from spans import Tracer

    import gen

    inp = gen.write_reference_inputs(os.path.join(work, "inputs"), args.seed, **DAILY)
    store = lambda i: os.path.join(work, f"store-{i}")  # noqa: E731
    note("inputs written")
    cold = W.daily_pass(spark, plain, inp, store("cold"))
    note(f"first pass {cold['span'].duration:.2f} s")
    if args.trace:
        base = W.daily_pass(spark, plain, inp, store("untraced"))
        tr = Tracer(spark, True)
        last = W.daily_pass(spark, tr, inp, store("traced"))
        layers = W.daily_breakdown(spark, tr, inp, store("traced"))
        layers.update(W.daily_layers(spark, last, inp))
        layers.update(_overhead(base["span"], last["span"]))
        warm = [base, last]
        tr.close()
    else:
        i = itertools.count()
        warm = _timed_passes(lambda: W.daily_pass(spark, plain, inp, store(next(i))), args.seconds)
    note("timed passes done")
    errs = W.check_daily(W.summarize_daily(spark, inp, warm[-1]), inp)
    note("checked")
    for op, msg in errs:
        print(f"check failed [{op}]: {msg}", file=sys.stderr)
    out = {"attempted": cold["ops"] + sum(o["ops"] for o in warm), "failed": len(errs)}
    if args.trace:
        layers["session.first_pass_s"] = cold["span"].duration
        out.update(layers=layers, spans=tr.dump())
    else:
        _log_ops([o["ops_s"] for o in warm])
        out["e2e"] = {
            "wall_s": typical_pass_s([o["ops_s"] for o in warm], [o["span"].duration for o in warm]),
            "op_p50_s": statistics.median(d for o in warm for d in o["day_s"]),
        }
    return out


def _overhead(untraced, traced) -> dict:
    return {"trace.untraced_wall_s": untraced.duration, "trace.traced_wall_s": traced.duration,
            "trace.overhead_s": traced.duration - untraced.duration}


def _queries(spark, W, plain, work, args) -> dict:
    from spans import Tracer

    import gen

    sf_dir = gen.write_corpus(os.path.join(work, "corpus"), args.seed, QUERY_SF)
    n = len(W.QUERY_MIX)
    results: dict = {}
    note("inputs written")
    cold = W.query_pass(spark, plain, sf_dir, results)
    note(f"first pass {cold['pass'].duration:.2f} s")
    if args.trace:
        base = W.query_pass(spark, plain, sf_dir)
        tr = Tracer(spark, True)
        last = W.query_pass(spark, tr, sf_dir)
        tr.close()
        layers = W.query_layers(last, W.count_pass(spark, sf_dir))
        layers.update(_overhead(base["pass"], last["pass"]))
        warm = [base, last]
    else:
        warm = _timed_passes(lambda: W.query_pass(spark, plain, sf_dir), args.seconds)
    note("timed passes done")
    errs = W.check_queries(results, sf_dir, CORPUS_TABLES)
    note("checked")
    for name, why in errs.items():
        print(f"check failed [{name}]: {why}", file=sys.stderr)
    out = {"attempted": n * (1 + len(warm)), "failed": len(errs)}
    if args.trace:
        layers["session.first_pass_s"] = cold["pass"].duration
        out.update(layers=layers, spans=tr.dump())
    else:
        per_query = [{q: r["build_s"] + r["materialize_s"] for q, r in o["queries"].items()} for o in warm]
        _log_ops(per_query)
        out["e2e"] = {
            "wall_s": typical_pass_s(per_query, [o["pass"].duration for o in warm]),
            # Each query's median over the passes first, so that one slow
            # sample cannot swap which query sits in the middle.
            "op_p50_s": statistics.median(statistics.median(p[q] for p in per_query) for q in W.QUERY_MIX),
        }
    return out


# ---------------------------------------------------------------------------
# Steadiness mode
# ---------------------------------------------------------------------------


def repeat(args) -> int:
    """Run the workload ``--repeat`` times, one seed each, and print each
    metric's median and quartiles with its spread (IQR / median)."""
    values: dict[str, list[float]] = {}
    for i in range(args.repeat):
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
               "--seed", str(args.seed + i), "--seconds", str(args.seconds), "--trace", str(args.trace)]
        p = subprocess.run(cmd, capture_output=True, text=True, timeout=900)
        last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else "{}"
        res = json.loads(last) if last.startswith("{") else {}
        if p.returncode or not res.get("correct"):
            print(f"seed {args.seed + i}: failed (exit {p.returncode})\n{p.stderr[-2000:]}", file=sys.stderr)
            return 1
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        print(f"seed {args.seed + i}: " + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
    summary = {}
    for k, xs in values.items():
        q1, med, q3 = statistics.quantiles(xs, n=4) if len(xs) > 1 else (xs[0],) * 3
        summary[k] = {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else 0.0, "n": len(xs)}
        print(f"{k:40s} median={med:.4g} q1={q1:.4g} q3={q3:.4g} spread={summary[k]['spread']:.3f}")
    print(json.dumps(summary))
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--repeat", type=int, default=0, help="steadiness mode: runs, one seed each")
    args = ap.parse_args(argv)
    if args.workload is None:
        ap.error("--workload is required")
    if args.repeat:
        return repeat(args)
    try:
        res = run(args)
    except Exception:  # noqa: BLE001 — report any failure as a failed run
        traceback.print_exc()
        return 1
    print(json.dumps(res))
    return 0 if res["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
