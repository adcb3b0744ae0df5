"""Run one benchmark workload and print its metrics.

Usage, from the root of a checkout::

    python3 perfbench/run.py --workload parquet_cycle --seed 1 \\
        --seconds 16 --trace 0

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``.  The line
before it is the full record (host block, sample counts, tail
percentiles, every per-class layer figure).  Workloads and metrics are
described in ``perfbench/README.md``.

Everything the run writes lives in a fresh directory under
``.perfbench_tmp/`` in the checkout (collections, generated inputs,
Spark local dirs, the event log) and is removed on exit; traced runs
also leave their spans in ``.perfbench_out/``."""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORKLOADS = {"parquet_cycle": "parquet", "zarr_cycle": "zarr"}
DEFAULT_SEED = 1


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=16.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def prepare_env(work: Path, traced: bool) -> None:
    """Point every scratch location of Spark and Python into ``work``;
    must run before the JVM starts."""
    local = work / "spark-local"
    local.mkdir(parents=True)
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    os.environ["TMPDIR"] = str(local)
    tempfile.tempdir = str(local)
    # spark-submit first runs a small launcher JVM; keep its files here too
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        f"-Djava.io.tmpdir={local} -XX:-UsePerfData")
    conf = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={local} -XX:-UsePerfData",
    }
    if traced:
        (work / "eventlog").mkdir()
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = f"file://{work / 'eventlog'}"
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
    args = " ".join(f"--conf {shlex.quote(f'{k}={v}')}"
                    for k, v in conf.items())
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"{args} pyspark-shell"


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for both."""
    from pyspark import SparkContext
    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:  # the JVM may already be gone
        pass
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "zcollection_spark" / "__init__.py").is_file():
        print(f"no zcollection_spark package beside {ROOT / 'perfbench'}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    import zcollection_spark
    if Path(zcollection_spark.__file__).resolve().parent.parent != ROOT:
        print("zcollection_spark imported from outside the checkout",
              file=sys.stderr)
        return 2

    from .host import HostBlock, RssSampler, nproc
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(nproc()))
    host = HostBlock(ROOT)
    scratch = ROOT / ".perfbench_tmp"
    scratch.mkdir(exist_ok=True)
    work = Path(tempfile.mkdtemp(prefix=f"{args.workload}-", dir=scratch))
    state = {"spark": None}
    # a terminated run still stops its JVM and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        prepare_env(work, bool(args.trace))
        with RssSampler() as rss:
            record, ctx = run_cycle(args, work, state)
        stop_spark(state.pop("spark"))
        if args.trace:
            from . import layers
            record["metrics"], record["per_class"] = layers.collect(
                ctx, work / "eventlog")
            out = ROOT / ".perfbench_out"
            layers.write_spans(ctx["tracer"], out / (
                f"{args.workload}-seed{args.seed}-spans.json"))
        else:
            record["metrics"]["peak_rss_mb"] = (rss.peak_mb, "MB")
    finally:
        if "spark" in state:
            stop_spark(state["spark"])
        shutil.rmtree(work, ignore_errors=True)
        try:
            scratch.rmdir()
        except OSError:
            pass
    record["host"] = host.finish()
    metrics = {name: {"value": value, "unit": unit}
               for name, (value, unit) in record.pop("metrics").items()}
    print(json.dumps(record, sort_keys=True))
    print(json.dumps({"correct": record["failed"] == 0,
                      "attempted": record["attempted"],
                      "failed": record["failed"], "metrics": metrics}))
    return 0


def run_cycle(args, work: Path, state: dict) -> "tuple[dict, dict]":
    """Set up, warm up and run one cycle workload; returns the record
    (with end-to-end metrics unless traced) and what a traced run needs
    to compute its layer metrics once the session has stopped."""
    import zcollection_spark as zc

    from . import cycle as cy
    from .helpers import OpLedger, median, tail
    from .trace import Tracer

    layout = WORKLOADS[args.workload]
    ledger = OpLedger()
    days = cy.loop_days(layout, args.seconds)
    n_days = cy.FIRST_DAY + days
    # set-up: one cold session start (the JVM launches here), input
    # generation, then the preload and the warm days
    t0 = time.perf_counter()
    spark = state["spark"] = zc.get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0
    t1 = time.perf_counter()
    inputs = cy.Inputs(work / "inputs", args.seed, n_days)
    inputs_s = time.perf_counter() - t1

    tracer = Tracer(spark, traced=bool(args.trace))
    uninstall = None
    if args.trace:
        from . import layers
        uninstall = layers.install(tracer)
    try:
        cycle = cy.Cycle(spark, layout, str(work / "collection"), inputs,
                         tracer, ledger)
        t0 = time.perf_counter()
        cy.warm_up(cycle, Tracer())
        warm_s = time.perf_counter() - t0
        ctx = {"tracer": tracer, "cycle": cycle, "session_s": session_s}
        loop = cy.run_loop(cycle, days)
    finally:
        if uninstall is not None:
            uninstall()
    if args.trace:
        ctx["doc_bytes"] = layers.doc_bytes(cycle)
        ctx["zarr3"] = ({k: 0.0 for k in layers.ZARR3_RATES}
                        if layout != "zarr" else
                        layers.zarr_core_rates(cycle, work / "zarr-core"))

    walls = {c: tracer.walls(c)
             for c in (*cy.WRITE_OPS, *cy.READ_OPS, *cy.META_OPS)}
    w_tail = tail([w for c in cy.WRITE_OPS for w in walls[c]])
    r_tail = tail([w for c in cy.READ_OPS for w in walls[c]])
    record = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "attempted": ledger.attempted, "failed": ledger.failed,
        "error_rate": ledger.error_rate, "failures": ledger.failures[:20],
        "session_start_s": round(session_s, 4),
        "inputs_s": round(inputs_s, 4),
        "warm_up_s": round(warm_s, 4),
        "ops": {c: len(w) for c, w in walls.items()},
        "op_p50_s": {c: round(median(w), 5) for c, w in walls.items()},
        "op_walls_s": {c: [round(x, 4) for x in w] for c, w in walls.items()},
        "write_tail": {"percentile": round(w_tail[1], 2), "n": w_tail[2]},
        "read_tail": {"percentile": round(r_tail[1], 2), "n": r_tail[2]},
        **loop,
        "rows_written": cycle.rows_written, "rows_read": cycle.rows_read,
    }
    record["metrics"] = {
        "setup_s": (session_s + inputs_s + warm_s, "s"),
        "write_p50_s": (median(walls["insert"]), "s"),
        "merge_p50_s": (median(walls["upsert"]), "s"),
        "point_read_p50_s": (median(walls["point_read"]), "s"),
        "range_read_p50_s": (median(walls["range_read"]), "s"),
        "write_tail_s": (w_tail[0], "s"),
        "read_tail_s": (r_tail[0], "s"),
        "rows_per_s": ((cycle.rows_written + cycle.rows_read)
                       / loop["loop_wall_s"], "rows/s"),
        "stored_bytes_ratio": (loop["stored_bytes_ratio"], "ratio"),
    }
    return record, ctx


if __name__ == "__main__":
    if __package__ in (None, ""):
        # run as a script: import the benchmark as the ``perfbench``
        # package so Python workers can unpickle its functions
        sys.path.insert(0, str(ROOT))
        from perfbench.run import main as _main
        sys.exit(_main())
    sys.exit(main())
