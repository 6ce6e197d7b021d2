"""Benchmark entry point.

    python3 perfbench/run.py --workload graph_fixpoint --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the engine. Generates the workload's
input tables from the seed under ``.perfbench/``, starts the Spark
application (``app.py``) in its own process with ``local[nproc]``, and
prints a run header line, then, as its last line, one JSON object:
``correct``, ``attempted``, ``failed`` and ``metrics`` (the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``).
Every file it writes stays under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

from app import GRAPH_OPS, STREAM_PHASES, WORKLOADS  # noqa: E402

CHILD_TIMEOUT_S = 165

END_TO_END = {"setup_s": "s", "pass_s": "s", "op_p50_s": "s"}

OPS = (*GRAPH_OPS, "export", "write_ivfpq_index", "probe", "admit")

PER_LAYER = {
    "setup.imports_s": "s",
    "session.get_spark_s": "s",
    "session.first_action_s": "s",
    "registry.all_specs_s": "s",
    "sources.first_load_s": "s",
    "plans.build_s": "s",
    "catalyst.plan_s": "s",
    "exec.action_s": "s",
    "cli.export_s": "s",
    "sinks.write_ivfpq_index_s": "s",
    "similarity.probe_s": "s",
    **{f"op.{name}_s": "s" for name in OPS},
    **{key: "s" for key in STREAM_PHASES.values()},
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.job_wall_s": "s",
    "spark.driver_residual_s": "s",
    "spark.task_run_s": "s",
    "spark.task_cpu_s": "s",
    "spark.task_gc_s": "s",
    "spark.task_deser_s": "s",
    "spark.scan_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.output_bytes": "bytes",
    "python.run_s": "s",
    "python.boot_s": "s",
    "python.init_s": "s",
    "python.bytes_sent": "bytes",
    "python.bytes_returned": "bytes",
    "dedup.candidates": "count",
    "dedup.verified": "count",
    "dedup.verify_yield": "ratio",
    "plans.memo_entries": "count",
    "sinks.bytes_per_input_byte": "ratio",
    "trace.overhead_frac": "ratio",
    "fail_frac": "ratio",
    "samples.passes": "count",
    "samples.ops": "count",
}


def cpu_times() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    delta = [b - a for a, b in zip(before, after)]
    total = sum(delta[:8])  # guest time is already counted in user
    return delta[7] / total if total else 0.0


def source_revision(root: Path) -> str:
    """The checkout's git commit, or a digest of the engine's sources when
    the checkout is not a git repository."""
    if (root / ".git").exists():
        with contextlib.suppress(OSError, subprocess.SubprocessError):
            return subprocess.run(
                ["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                text=True, check=True, timeout=10).stdout.strip()
    h = hashlib.sha1()
    for p in sorted((root / "bigdata2016w_spark").rglob("*.py")):
        h.update(p.relative_to(root).as_posix().encode())
        h.update(p.read_bytes())
    return "tree-" + h.hexdigest()[:12]


def session_pids(sid: int) -> list[int]:
    """Live processes in session ``sid``: the application, its JVM and
    the JVM's Python workers (which move to their own process group)."""
    pids = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[3]) == sid and fields[0] != "Z":
            pids.append(int(d))
    return pids


def stop_session(sid: int, grace_s: float) -> None:
    """Wait up to ``grace_s`` for the session to end, then kill what is
    left and wait until it is gone."""
    deadline = time.time() + grace_s
    while pids := session_pids(sid):
        if time.time() >= deadline:
            for pid in pids:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(pid, signal.SIGKILL)
        time.sleep(0.1)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=list(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = Path.cwd().resolve()
    if not (root / "bigdata2016w_spark" / "__init__.py").is_file():
        print("perfbench: run from the root of an engine checkout "
              "(no bigdata2016w_spark package here)", file=sys.stderr)
        return 2
    import gen

    work = root / ".perfbench" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    data = work / "data"
    gen.write_tables(data, WORKLOADS[args.workload].tables, args.seed)
    for d in ("tmp", "spark-local", "warehouse"):
        (work / d).mkdir(parents=True)

    nproc = len(os.sched_getaffinity(0))
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": os.pathsep.join(
            p for p in (str(root), env.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_GRAFT_CPUS": str(nproc),
        "SPARK_GRAFT_WAREHOUSE": str(work / "warehouse"),
        "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        "TMPDIR": str(work / "tmp"),
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
    })
    cfg = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
           "trace": args.trace, "work": str(work), "data": str(data),
           "result": str(work / "result.json")}
    cfg_path = work / "config.json"
    load_before, cpu_before = os.getloadavg()[0], cpu_times()
    cfg["spawn"] = time.time()
    cfg_path.write_text(json.dumps(cfg))
    rc = None
    with open(work / "app.log", "w") as log:
        child = subprocess.Popen(
            [sys.executable, str(HERE / "app.py"), str(cfg_path)],
            cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT,
            start_new_session=True)
        try:
            rc = child.wait(timeout=CHILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            pass
        finally:
            if child.poll() is None:
                child.kill()
            child.wait()
            # once the application has exited, its JVM only has its own
            # shutdown left to do; a finished run gives it a second
            stop_session(child.pid, grace_s=1.0 if rc == 0 else 0.0)
    cpu_after = cpu_times()
    if rc != 0:
        tail = (work / "app.log").read_text(errors="replace").splitlines()[-40:]
        print("\n".join(tail), file=sys.stderr)
        print(f"perfbench: application {'timed out' if rc is None else f'exited {rc}'}",
              file=sys.stderr)
        return 1
    res = json.loads((work / "result.json").read_text())

    header = {
        "workload": args.workload, "seed": args.seed, "nproc": nproc,
        "default_parallelism": res["default_parallelism"],
        "spark": res["spark_version"], "python": sys.version.split()[0],
        "revision": source_revision(root), "sf_dir": os.path.relpath(data, root),
        "loadavg_1m": [load_before, os.getloadavg()[0]],
        "cpu_steal_share": steal_share(cpu_before, cpu_after),
        "passes": len(res["pass_walls"]), "op_samples": len(res["op_walls"]),
        "phases_s": {k: round(v, 2) for k, v in res["phases"].items()},
        "op_median_s": {k: round(v, 3) for k, v in res["op_median_s"].items()},
    }
    print(json.dumps({"run_header": header}))
    if args.trace:
        layers = {**res["setup_spans"], **res["layers"]}
        layers["fail_frac"] = res["failed"] / res["attempted"]
        layers["samples.passes"] = len(res["pass_walls"])
        layers["samples.ops"] = len(res["op_walls"])
        metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u}
                   for k, u in PER_LAYER.items()}
    else:
        values = {"setup_s": res["setup_s"],
                  "pass_s": statistics.median(res["pass_walls"]),
                  "op_p50_s": statistics.median(res["op_walls"])}
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
