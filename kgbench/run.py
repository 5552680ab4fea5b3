#!/usr/bin/env python3
"""kgforge benchmark: one seeded, closed-loop, single-client workload.

Usage (from the repository root)::

    python3 kgbench/run.py --workload construct --seed 1 --seconds 1 --trace 0

Runs on ``local[nproc]``. Set-up starts the Spark session seven times,
each followed by one small shuffle job (the first start launches the
JVM; the others rebuild the session in the same JVM), and reports the
median as ``setup_s``. It then prepares the workload's tables and runs
timed operations back to back until ``--seconds`` of operation wall has
passed (at least one). There is no warm-up: the first operation pays
codegen, JIT and Python-worker start, as a ``spark-submit`` of the job
does. Every operation's outputs are checked after it returns, outside
the timed section.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` runs the
same operations traced layer by layer (see ``trace.py``) and reports the
per-layer metrics, plus ``trace.op_wall_s`` (the traced operation wall:
minus ``op_p50_s`` of untraced runs, it is the tracing overhead) and
``trace.collect_s`` (time spent inside the collector).

The last line of standard output is one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

A result file with host provenance and every span is written to
``kgbench/results/``. See ``WORKLOADS.md`` for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: end-to-end metrics (``--trace 0``), name -> unit
END_TO_END = {"setup_s": "s", "op_p50_s": "s", "records_per_s": "1/s", "peak_rss_mb": "MB"}
#: the first start launches the JVM; the session-start path itself warms
#: over the next few restarts, so the median needs several of them
SETUP_REPS = 7


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["construct", "analytics"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _source_digest() -> str:
    """sha256 over the program and benchmark sources, so runs of
    identical code are identifiable where git is absent."""
    h = hashlib.sha256()
    for top in ("kgforge", "kgbench"):
        for dirpath, dirs, files in sorted(os.walk(os.path.join(ROOT, top))):
            dirs[:] = sorted(d for d in dirs if not d.startswith(".") and d != "__pycache__")
            for f in sorted(files):
                if f.endswith(".py"):
                    p = os.path.join(dirpath, f)
                    h.update(os.path.relpath(p, ROOT).encode())
                    with open(p, "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()


def _git_commit() -> str | None:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None


def _versions(spark) -> dict:
    import duckdb
    import numpy
    import pandas
    import pyarrow
    import pyspark

    return {
        "python": sys.version.split()[0],
        "pyspark": pyspark.__version__,
        "spark": spark.version,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
        "pandas": pandas.__version__,
        "duckdb": duckdb.__version__,
    }


def _host_probe_s() -> float:
    """Wall of a fixed pure-Python loop: the host's speed at this moment,
    comparable across runs on the same machine."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc += i
    return time.perf_counter() - t0


def _steal_s() -> float:
    """CPU time stolen from this VM by the hypervisor, all CPUs (s)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _session(nproc: int, tmp: str):
    from kgforge.session import get_spark

    return get_spark(
        master=f"local[{nproc}]",
        app_name="kgbench",
        shuffle_partitions=nproc,
        extra_conf={
            "spark.local.dir": os.path.join(tmp, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
            # -XX:-UsePerfData: no hsperfdata file under the system /tmp.
            # -Xms1g: with the default small initial heap, when G1 grows
            # the heap depends on GC timing, and peak RSS varied by ~15%
            # between identical runs (under 4% with this floor)
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms1g",
            # small inputs; a smaller heap keeps the footprint modest on a
            # shared host (the program's default is 8g)
            "spark.driver.memory": "2g",
        },
    )


def _sql_probe(spark) -> None:
    """One shuffle aggregation: scheduler, shuffle and codegen start-up."""
    spark.range(100_000).selectExpr("id % 97 AS k").groupBy("k").count().collect()


def _setup(nproc: int, tmp: str, tracer) -> tuple[object, list[float]]:
    """Start the session ``SETUP_REPS`` times; return it and each wall."""
    walls, spark = [], None
    for _ in range(SETUP_REPS):
        if spark is not None:
            spark.stop()  # teardown of the previous start is not set-up
        t0 = time.time()
        spark = _session(nproc, tmp)
        tracer.bind(spark)
        with tracer.span("session.setup", start=t0):
            _sql_probe(spark)
        walls.append(time.time() - t0)
    return spark, walls


def _shutdown(spark) -> None:
    """Stop the session and the JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def run(args) -> dict:
    from kgbench import workloads
    from kgbench.trace import Tracer

    nproc = _nproc()
    load_before = os.getloadavg()
    steal_before = _steal_s()
    probe_before = _host_probe_s()
    tmp = os.path.join(HERE, ".run", f"{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    # the short-lived JVM spark-submit uses to build its command line
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    tempfile.tempdir = tmp
    tracer = Tracer(enabled=bool(args.trace))
    cls = {"construct": workloads.Construct, "analytics": workloads.Analytics}[args.workload]
    spark = None
    try:
        # inputs first: generation is not part of set-up
        t_inputs = time.perf_counter()
        wl = cls(None, tracer, ROOT, args.seed, tmp, nproc)
        inputs_s = time.perf_counter() - t_inputs
        spark, setup_walls = _setup(nproc, tmp, tracer)
        parallelism = spark.sparkContext.defaultParallelism
        if parallelism > nproc:
            raise SystemExit(f"refusing: Spark parallelism {parallelism} exceeds nproc {nproc}")
        wl.spark = spark
        t0 = time.perf_counter()
        wl.prepare()
        prepare_s = time.perf_counter() - t0
        return _measure(args, wl, tracer, spark, {
            "nproc": nproc,
            "spark_parallelism": parallelism,
            "load_before": load_before,
            "host_probe_before_s": probe_before,
            "steal_before_s": steal_before,
            "imports_s": t_inputs - T_START,
            "inputs_s": inputs_s,
            "setup_walls_s": setup_walls,
            "prepare_s": prepare_s,
            "versions": _versions(spark),
            "git_commit": _git_commit(),
            "source_sha256": _source_digest(),
        })
    finally:
        if spark is not None:
            _shutdown(spark)
        shutil.rmtree(tmp, ignore_errors=True)


def _op(wl, subs_all, failures):
    """One closed-loop op plus its check; failures are counted, not raised."""
    try:
        subs = wl.op()
    except Exception:  # the loop must go on and report the failure
        failures.append({"op": "raised", "traceback": traceback.format_exc()})
        return None
    wall = sum(s["wall_s"] for s in subs)
    try:
        for name in wl.check(subs):
            failures.append({"op": name})
    except Exception:
        failures.append({"op": "check raised", "traceback": traceback.format_exc()})
    subs_all.extend(subs)
    return wall


def _measure(args, wl, tracer, spark, prov: dict) -> dict:
    from kgbench import workloads

    t_measure = time.perf_counter()
    subs_all: list[dict] = []
    failures: list[dict] = []
    walls: list[float] = []
    while wl.can_continue():
        w = _op(wl, subs_all, failures)
        if w is not None:
            walls.append(w)
        if sum(walls) >= args.seconds or len(failures) > 2 * len(walls) + 2:
            break
    try:
        for name in wl.finish():
            failures.append({"op": name})
    except Exception:
        failures.append({"op": "finish raised", "traceback": traceback.format_exc()})

    jvm_pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
    driver_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = _vm_hwm_kb(jvm_pid)
    attempted = len(subs_all) + sum(f["op"] == "raised" for f in failures)
    failed = min(len(failures), attempted)
    prov["load_after"] = os.getloadavg()
    prov["host_probe_after_s"] = _host_probe_s()
    prov["steal_s"] = _steal_s() - prov.pop("steal_before_s")
    prov["measure_s"] = time.perf_counter() - t_measure
    ok = bool(walls) and not failures
    e2e = {
        "setup_s": statistics.median(prov["setup_walls_s"]),
        "op_p50_s": statistics.median(walls) if walls else 0.0,
        "records_per_s": wl.records(subs_all) / sum(walls) if walls else 0.0,
        "peak_rss_mb": (driver_kb + jvm_kb) / 1024,
    }
    details = wl.details(subs_all) if walls else {}
    details["ops_failed_frac"] = (failed / max(attempted, 1), "1")
    details["ops"] = (len(walls), "count")
    details["driver_peak_rss_mb"] = (driver_kb / 1024, "MB")
    details["jvm_peak_rss_mb"] = (jvm_kb / 1024, "MB")
    if args.trace:
        # every layer of every workload: a layer this workload bypasses
        # reports zeros
        metrics = tracer.layer_metrics(workloads.LAYERS, workloads.RATIOS)
        metrics["trace.op_wall_s"] = statistics.median(walls) if walls else 0.0
        metrics["trace.collect_s"] = tracer.collect_s
        units = {m: _layer_unit(m) for m in metrics}
    else:
        metrics, units = e2e, END_TO_END
    return {
        "correct": ok,
        "attempted": max(attempted, 1),
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
        "details": {k: {"value": float(v), "unit": u} for k, (v, u) in details.items()},
        "end_to_end": e2e,
        "op_walls_s": walls,
        "sub_walls_s": [(s["name"], s["wall_s"]) for s in subs_all],
        "failures": failures,
        "provenance": prov,
        "spans": tracer.spans,
    }


def _layer_unit(name: str) -> str:
    suffix = name.rsplit(".", 1)[1]
    if suffix.endswith("_s"):
        return "s"
    if suffix.endswith("_bytes"):
        return "bytes"
    if suffix in ("jobs", "df_cap_dropped"):
        return "count"
    return "ratio"


def main(argv=None) -> int:
    args = _parse(argv)
    if not os.path.isdir(os.path.join(ROOT, "kgforge")):
        print(f"kgforge sources not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    res = run(args)
    out_dir = os.path.join(HERE, "results")
    os.makedirs(out_dir, exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S", time.gmtime())
    path = os.path.join(
        out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}-{stamp}-{os.getpid()}.json"
    )
    res["provenance"]["total_s"] = time.perf_counter() - T_START
    with open(path, "w") as f:
        json.dump({"args": vars(args), **res}, f, indent=1, default=str)
    for k, d in res["details"].items():
        print(f"{args.workload} {k} = {d['value']:.6g} {d['unit']}")
    for f in res["failures"]:
        print(f"FAILED {f['op']}\n{f.get('traceback', '')}", file=sys.stderr)
    print(f"result file: {os.path.relpath(path, ROOT)}")
    print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
