"""Extraction benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload synth_narrow --seed 1 --seconds 10 --trace 0

Run from the repository root.  Inputs are generated from ``--seed`` under
``.perfbench_work/`` (nothing else is read or written outside the
checkout), the workload runs in one ``local[4]`` Spark application, every
output is checked against the serial core, and the last stdout line is
``{"correct", "attempted", "failed", "metrics"}`` — end-to-end metrics
with ``--trace 0``, per-layer metrics with ``--trace 1``.  A stamp line
(nproc, load, versions, commit) precedes it; the traced run also writes
its spans to ``.perfbench_work/traces/``.
"""

import time

T_START = time.monotonic()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
PACKAGE = os.path.join(ROOT, "article_extractor_spark")


def _commit() -> str | None:
    """HEAD of the checkout, when the checkout is itself a git work tree."""
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "--show-toplevel",
                              "HEAD"], capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    lines = out.stdout.split()
    if out.returncode != 0 or len(lines) != 2 or \
            os.path.realpath(lines[0]) != os.path.realpath(ROOT):
        return None
    return lines[1]


def _source_digest() -> str:
    """sha256 over the program's Python sources (the checkout may not be a
    git repository)."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "scripts", "run_warc_job.py")]
    for d, _dirs, names in os.walk(PACKAGE):
        files += [os.path.join(d, n) for n in names if n.endswith(".py")]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def stamp(load_before: float) -> dict:
    import pyarrow
    import pyspark

    return {"nproc": os.cpu_count(), "load1_before": load_before,
            "load1_after": os.getloadavg()[0], "spark": pyspark.__version__,
            "pyarrow": pyarrow.__version__, "commit": _commit(),
            "source_sha256": _source_digest()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full",
                    help="input size; 'tiny' is for the self-test")
    args = ap.parse_args(argv)

    if not os.path.isdir(PACKAGE):
        print(f"program package not found at {PACKAGE}", file=sys.stderr)
        return 2
    load_before = os.getloadavg()[0]
    work = os.path.join(WORK_ROOT, args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # every temp file of this process, the JVM and the Python workers
    # stays inside the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = (f"-Djava.io.tmpdir={os.environ['TMPDIR']} "
                                       "-XX:-UsePerfData")
    os.environ["PYTHONPATH"] = ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")
    sys.path.insert(0, ROOT)

    from perfbench import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    run = workloads.Run(args.seed, args.seconds, bool(args.trace), args.scale,
                        ROOT, work, T_START)
    try:
        res = workloads.WORKLOADS[args.workload](run)
    finally:
        run.h.shutdown()
    st = stamp(load_before)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if args.trace else "end_to_end"]
    out = {m["name"]: {"value": float(res.metrics.get(m["name"], 0.0)),
                       "unit": m["unit"]} for m in declared}
    if args.trace:
        run.rec.write(os.path.join(WORK_ROOT, "traces",
                                   f"{args.workload}-{args.seed}.jsonl"),
                      {"workload": args.workload, "seed": args.seed,
                       "stamp": st, "actions": run.tracer.actions})
    print(json.dumps(res.detail), file=sys.stderr)
    for p in res.problems:
        print(f"CHECK FAILED: {p}", file=sys.stderr)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"stamp": st, "workload": args.workload, "seed": args.seed}))
    print(json.dumps({"correct": res.correct, "attempted": max(1, res.attempted),
                      "failed": res.failed, "metrics": out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
