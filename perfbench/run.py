"""The repo benchmark. Usage, from the repository root:

    python3 perfbench/run.py --workload kg_build --seed 42 --seconds 12 --trace 0

Starts ``worker.py`` in a fresh process (its own Spark driver JVM and
Python workers), waits for it, stops anything it left running, and prints
one JSON line as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--pin`` runs set-up only and records the workload's output row count and
digest for ``--seed`` in ``expected.json``. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TIMEOUT_S = 170


def run_seconds() -> float:
    """The run length BENCHMARK.json gives: the default for ``--seconds``."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)["run_seconds"]


def _session(sid: int) -> list[int]:
    """Pids in session ``sid``. PySpark's daemon moves its Python workers to
    a process group of their own, but they stay in the worker's session."""
    out = []
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    if int(f.read().rsplit(")", 1)[1].split()[3]) == sid:
                        out.append(int(d))
            except OSError:
                pass
    return out


def stop_session(proc: subprocess.Popen) -> None:
    """Stop every process of the worker's session and wait until all are gone."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in _session(proc.pid):
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.time() + 10
        while time.time() < deadline:
            proc.poll()
            if not _session(proc.pid):
                return
            time.sleep(0.1)
    proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=run_seconds())
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--pin", action="store_true")
    args = ap.parse_args()

    if not args.workload.isidentifier():
        ap.error(f"not a workload name: {args.workload!r}")
    if not os.path.isfile(os.path.join(ROOT, "anything2rdf_spark", "__init__.py")):
        print("perfbench: anything2rdf_spark not found next to perfbench/", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    env = dict(os.environ)
    # the package must be importable by worker.py and by the Python workers
    # the JVM forks; scratch files stay inside the checkout
    env["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p)
    env["TMPDIR"] = tmp
    env["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace), "--work", work,
    ] + (["--pin"] if args.pin else [])

    def interrupted(signum, _frame):
        raise SystemExit(128 + signum)

    signal.signal(signal.SIGTERM, interrupted)
    signal.signal(signal.SIGINT, interrupted)
    proc, result = None, None
    try:
        proc = subprocess.Popen(cmd, cwd=work, env=env, start_new_session=True)
        try:
            proc.wait(timeout=TIMEOUT_S)
        except subprocess.TimeoutExpired:
            print(f"perfbench: worker exceeded {TIMEOUT_S}s", file=sys.stderr)
        stop_session(proc)
        with open(os.path.join(work, "result.json")) as f:
            result = json.load(f)
    except (OSError, json.JSONDecodeError):
        pass
    finally:
        if proc is not None:
            stop_session(proc)
        shutil.rmtree(work, ignore_errors=True)
    if result is None or proc.returncode != 0:
        print(f"perfbench: worker failed (exit {proc.returncode})", file=sys.stderr)
        return 1
    if args.pin:
        path = os.path.join(HERE, "expected.json")
        with open(path) as f:
            pins = json.load(f)
        pins.setdefault(args.workload, {})[str(args.seed)] = {
            k: result["ref"][k] for k in ("rows", "digest")
        }
        with open(path, "w") as f:
            json.dump(pins, f, indent=1, sort_keys=True)
            f.write("\n")
        return 0 if result["ref"]["ok"] else 1
    if not result["metrics"]:
        print("perfbench: no call succeeded", file=sys.stderr)
        return 1
    print(json.dumps({k: result[k] for k in ("correct", "attempted", "failed", "metrics")}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
