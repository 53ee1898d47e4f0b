#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload headline --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  Generates (or reuses) the seeded
fixture, starts the engine's Spark session on ``local[<cores>]``, runs
the workload, checks its outputs, and prints as the last line of
standard output one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics`` (the end-to-end metrics of BENCHMARK.json with
``--trace 0``, the per-layer ones with ``--trace 1``).  The line before
it is a JSON context record (load average at start and end, fixture
generation time, per-query or per-day detail).  A traced run also
writes its spans to ``.perfbench_work/traces/``.

Everything the run writes stays under ``.perfbench_work/`` in the
checkout; the per-run directory is removed at exit.
"""
from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

T_PROCESS = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

#: Fixture scale per workload, relative to sf0.1 (1.0 = sf0.1 rows).
#: The headline queries are bound by fixed per-query costs, so an
#: sf0.01-sized fixture keeps their layer split.  The DAG day at 0.01
#: keeps the write share and the four leading tasks of the sf0.1 shape
#: but not their order, and costs about 15 s less per run, which the
#: time budget of 48 runs needs; perfbench/README.md has the figures.
SCALE = {"headline": 0.1, "mango-dag": 0.01}


def _loadavg() -> list[float]:
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SCALE))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # internal: build the mango DAG's pre-day state into DIR (see _dag_state)
    ap.add_argument("--prepare", metavar="DIR", help=argparse.SUPPRESS)
    return ap.parse_args(argv)


def _require_program() -> None:
    """Exit non-zero, printing no result, when the program is absent."""
    for rel in ("bench.py", "taipei_bi_etl_spark/queries/__init__.py",
                "tests/oracle_utils.py"):
        if not os.path.isfile(os.path.join(ROOT, rel)):
            sys.exit(f"perfbench: program file {rel} not found under {ROOT}")


#: The sources whose code builds the DAG's pre-day state.
STATE_SOURCES = ("taipei_bi_etl_spark", "perfbench")


def _dag_state_dir(work: str) -> str:
    from perfbench.fixture import source_fingerprint

    return os.path.join(
        work,
        f"dag_state_scale{SCALE['mango-dag']:g}_"
        f"{source_fingerprint(ROOT, STATE_SOURCES)}",
    )


def _dag_state(work: str) -> str:
    """The DAG's state before its measured day, built by a child process
    so that the measured run's JVM starts cold.  It is keyed by a hash of
    the program's sources, so it is built once per version of the code
    and always by the code under test."""
    import subprocess

    out = _dag_state_dir(work)
    if not os.path.isdir(out):
        subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload",
             "mango-dag", "--seed", "0", "--seconds", "0", "--prepare", out],
            check=True, stdout=subprocess.DEVNULL, timeout=600,
        )
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    _require_program()
    load_start = _loadavg()
    work = os.path.join(ROOT, ".perfbench_work")
    run_dir = os.path.join(work, f"run-{os.getpid()}")
    tmp_dir = os.path.join(run_dir, "tmp")
    os.makedirs(tmp_dir)
    # The engine keeps its content-keyed fixtures under the temp dir;
    # point it, PySpark's own temp files and Spark's scratch into the run.
    os.environ["TMPDIR"] = tmp_dir
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark_local")
    cores = _cores()
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    import tempfile

    tempfile.tempdir = None

    from perfbench import engine, fixture, workloads
    from perfbench.metrics import result_line

    fixtures = os.path.join(work, "fixtures")
    scale = SCALE[args.workload]
    session = engine.Session(run_dir, cores)
    try:
        t0 = time.perf_counter()
        if args.workload == "mango-dag" and not args.prepare:
            state_dir = _dag_state(work)
        t1 = time.perf_counter()
        if args.prepare:
            sf_dir = fixture.dag_history_dir(fixtures, scale)
        elif args.workload == "mango-dag":
            sf_dir = fixture.dag_fixture_dir(fixtures, args.seed, scale)
        else:
            sf_dir = fixture.fixture_dir(fixtures, args.seed, scale)
        gen_s = time.perf_counter() - t1
        inputs = (
            workloads.HEADLINE_TABLES if args.workload == "headline"
            else ("events",)
        )
        start_s = session.start()
        footers_s = session.warm(sf_dir, inputs)
        if args.prepare:
            workloads.prepare_mango(session, sf_dir, args.prepare)
            return 0
        run = workloads.Run(
            session=session,
            sf_dir=sf_dir,
            seconds=args.seconds,
            trace=bool(args.trace),
            run_dir=run_dir,
            tmp_dir=tmp_dir,
            input_bytes=fixture.input_bytes(sf_dir, inputs),
            start_s=start_s,
            footers_s=footers_s,
        )
        if args.workload == "headline":
            out = workloads.run_headline(run)
        else:
            out = workloads.run_mango(run, state_dir)
    finally:
        t_stop = time.perf_counter()
        session.stop()
        stop_s = time.perf_counter() - t_stop
        shutil.rmtree(run_dir, ignore_errors=True)

    want = workloads.spec()["per_layer" if args.trace else "end_to_end"]
    units = {m["name"]: m["unit"] for m in want}
    got = {k: u for k, (_v, u) in out.metrics.items()}
    if got != units:
        raise RuntimeError(f"metrics {got} do not match BENCHMARK.json {units}")
    if args.trace:
        trace_dir = os.path.join(work, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        path = os.path.join(
            trace_dir, f"{args.workload}-seed{args.seed}-{os.getpid()}.jsonl"
        )
        with open(path, "w") as fh:
            for s in out.spans:
                fh.write(json.dumps(s.__dict__) + "\n")
        out.notes["trace_file"] = os.path.relpath(path, ROOT)
    context = {
        "workload": args.workload,
        "seed": args.seed,
        "cores": cores,
        "scale": scale,
        "dag_state_build_s": round(t1 - t0, 3),
        **({"dag_state": os.path.basename(state_dir)}
           if args.workload == "mango-dag" else {}),
        "fixture_gen_s": round(gen_s, 3),
        "session_start_s": round(start_s, 3),
        "footers_s": round(footers_s, 3),
        "stop_s": round(stop_s, 3),
        "process_s": round(time.perf_counter() - T_PROCESS, 3),
        "loadavg_start": load_start,
        "loadavg_end": _loadavg(),
        **out.notes,
    }
    print(json.dumps({"context": context}))
    print(result_line(out.failed == 0, out.attempted, out.failed, out.metrics))
    return 0


if __name__ == "__main__":
    sys.exit(main())
