"""Per-layer instrumentation of a traced cycle, from the benchmark's side.

``install`` wraps, for the duration of the loop, the public function of
each package layer at its boundary; ``collect`` turns the spans, counts
and the Spark event log into per-layer metrics, per operation class.

Layer boundaries wrapped (module, what the span or count records):

- ``fs``: every method of the object ``fs.fs_for`` returns, as
  ``fs.head|get|put|list|rename|delete|mkdirs`` spans and counts;
- ``collection.catalog``: ``Catalog`` reads and writes (outermost call
  only) and CAS conflicts seen by ``write_if``;
- ``collection.staging``: ``staged_publish`` and the ``write_fn`` it runs;
- ``collection.stats``: ``collect_zone_stats``;
- ``partitioning``: ``Partitioning.enumerate_keys`` and ``compile_filter``;
- ``partitioning.zonemap``: the ``compile_zone_filter`` predicate, counting
  partitions considered and kept;
- ``collection``: the ``query`` planners of both layouts and the zarr
  layout's ``to_df``."""

from __future__ import annotations

import functools
import json
import time
from pathlib import Path

from .helpers import check_metric_name, median, self_time, union_length

FS_KINDS = {
    "exists": "head", "exists_file": "head", "mtime": "head",
    "read_text": "get", "read_bytes": "get", "read_versioned": "get",
    "write_text": "put", "write_bytes": "put", "write_if": "put",
    "copy_file": "put",
    "list_files": "list", "list_dirs": "list",
    "list_partition_dirs": "list",
    "rename": "rename", "delete": "delete", "mkdirs": "mkdirs",
}
CATALOG_READS = ("read", "read_doc", "read_stats", "read_txn", "read_at",
                 "generation", "history", "pins")
CATALOG_WRITES = ("write", "add", "remove", "retain_for_pins")
#: op classes reported one by one in the result line
CLASSES = ("insert", "upsert", "point_read", "range_read")
PER_CLASS = ("wall_s", "fs.head", "fs.get", "fs.put", "fs.list",
             "fs.rename", "fs.delete", "fs.mkdirs", "fs.busy_s",
             "catalog.reads", "catalog.writes", "catalog.busy_s",
             "spark.jobs", "spark.tasks", "spark.job_s",
             "spark.driver_gap_s", "unattributed_s")
#: every span name; the record gives each one's self time per op class
SPANS = (*sorted({f"fs.{k}" for k in FS_KINDS.values()}), "catalog.read",
         "catalog.write", "staging.publish", "staging.write_job",
         "stats.collect", "partitioning.enumerate_keys",
         "partitioning.compile", "collection.plan", "collection.to_df",
         "spark.plan")
READS = ("point_read", "range_read", "time_travel")
ZARR3_RATES = ("zarr3.read_mb_per_s", "zarr3.vlen_read_mb_per_s",
               "zarr3.write_mb_per_s")
WRITES = ("insert", "upsert", "update")


class TracedFS:
    """A metadata store whose every call is a span and a count."""

    def __init__(self, inner, tracer):
        self._inner, self._tracer = inner, tracer

    def __getattr__(self, name):
        attr = getattr(self._inner, name)
        kind = FS_KINDS.get(name)
        if kind is None or not callable(attr):
            return attr
        tracer = self._tracer

        def call(*args, **kwargs):
            tracer.count(f"fs.{kind}")
            with tracer.span(f"fs.{kind}"):
                try:
                    return attr(*args, **kwargs)
                except Exception as exc:
                    if type(exc).__name__ == "CommitConflictError":
                        tracer.count("catalog.cas_conflicts")
                    raise
        return call


class _Patches:
    """Attribute replacements, undone in reverse order."""

    def __init__(self):
        self._undo = []

    def set(self, owner, name: str, value) -> None:
        self._undo.append((owner, name, owner.__dict__[name]))
        setattr(owner, name, value)

    def undo(self) -> None:
        while self._undo:
            owner, name, value = self._undo.pop()
            setattr(owner, name, value)


def _spanned(tracer, name: str, fn):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        with tracer.span(name):
            return fn(*args, **kwargs)
    return wrapper


def install(tracer):
    """Wrap the layer boundaries; returns the function that unwraps them.
    Collections opened afterwards resolve their store through the
    wrapped ``fs_for``."""
    from zcollection_spark import fs as fsmod
    from zcollection_spark import partitioning
    from zcollection_spark.collection import catalog as catmod
    from zcollection_spark.collection import collection as collmod
    from zcollection_spark.collection import staging
    from zcollection_spark.partitioning import base, zonemap
    from zcollection_spark.zarr3 import collection as zcollmod

    patches = _Patches()
    real_fs_for = fsmod.fs_for

    def fs_for(*args, **kwargs):
        return TracedFS(real_fs_for(*args, **kwargs), tracer)

    for mod in (fsmod, zcollmod):
        patches.set(mod, "fs_for", fs_for)

    def catalog_call(kind, fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.in_span("catalog."):
                tracer.count(f"catalog.{kind}s")
            with tracer.span(f"catalog.{kind}"):
                return fn(*args, **kwargs)
        return wrapper

    for name in CATALOG_READS:
        patches.set(catmod.Catalog, name,
                    catalog_call("read", catmod.Catalog.__dict__[name]))
    for name in CATALOG_WRITES:
        patches.set(catmod.Catalog, name,
                    catalog_call("write", catmod.Catalog.__dict__[name]))

    real_publish = staging.staged_publish

    def staged_publish(*args, write_fn, **kwargs):
        published = real_publish(
            *args, write_fn=_spanned(tracer, "staging.write_job", write_fn),
            **kwargs)
        tracer.count("staging.partitions_published", len(published))
        return published

    patches.set(staging, "staged_publish",
                _spanned(tracer, "staging.publish", staged_publish))
    for mod in (collmod, zcollmod):
        patches.set(mod, "collect_zone_stats", _spanned(
            tracer, "stats.collect", mod.collect_zone_stats))
        patches.set(mod, "compile_filter", _spanned(
            tracer, "partitioning.compile", mod.compile_filter))
    patches.set(partitioning, "compile_filter",
                _spanned(tracer, "partitioning.compile",
                         partitioning.compile_filter))
    patches.set(base.Partitioning, "enumerate_keys", _spanned(
        tracer, "partitioning.enumerate_keys",
        base.Partitioning.__dict__["enumerate_keys"]))

    real_zone = zonemap.compile_zone_filter

    def compile_zone_filter(*args, **kwargs):
        may_match = real_zone(*args, **kwargs)

        def counted(stats):
            kept = may_match(stats)
            tracer.count("zonemap.considered")
            tracer.count("zonemap.kept", int(bool(kept)))
            return kept
        return counted

    for mod in (zonemap, collmod):
        patches.set(mod, "compile_zone_filter", compile_zone_filter)
    for cls in (collmod.Collection, zcollmod.ZarrCollection):
        patches.set(cls, "query", _spanned(tracer, "collection.plan",
                                           cls.__dict__["query"]))
    # the zarr layout's merge reads existing partitions through to_df
    patches.set(zcollmod.ZarrCollection, "to_df", _spanned(
        tracer, "collection.to_df", zcollmod.ZarrCollection.__dict__["to_df"]))
    return patches.undo


def doc_bytes(cycle) -> int:
    """Size of the collection's catalog document."""
    from zcollection_spark.collection.catalog import CATALOG_RELPATH
    path = Path(cycle.path) / CATALOG_RELPATH
    return path.stat().st_size if path.exists() else 0


def zarr_core_rates(cycle, scratch: Path, repeats: int = 3) -> dict:
    """MB/s of ``zarr3.core.read_array``/``write_array`` on the arrays of
    the newest partition the cycle wrote, numeric and vlen apart."""
    from zcollection_spark.zarr3.core import read_array, write_array
    from . import events as ev
    group = Path(cycle.path) / ev.relpath(cycle.ref.live()[-1])
    totals = {"read": [0, 0.0], "vlen_read": [0, 0.0], "write": [0, 0.0]}
    for arr_dir in sorted(p for p in group.iterdir()
                          if (p / "zarr.json").exists()):
        reads, writes = [], []
        for i in range(repeats):
            t0 = time.perf_counter()
            data = read_array(arr_dir)
            reads.append(time.perf_counter() - t0)
            t0 = time.perf_counter()
            write_array(scratch / f"{arr_dir.name}-{i}", data)
            writes.append(time.perf_counter() - t0)
        vlen = data.dtype.kind in ("U", "O")
        nbytes = (sum(len(str(s).encode()) for s in data) if vlen
                  else data.nbytes)
        key = "vlen_read" if vlen else "read"
        totals[key][0] += nbytes
        totals[key][1] += median(reads)
        totals["write"][0] += nbytes
        totals["write"][1] += median(writes)
    return {f"zarr3.{k}_mb_per_s": (n / s / 1e6 if s else 0.0)
            for k, (n, s) in totals.items()}


def _op_layers(op, spans, counts, spark) -> dict:
    """Every layer figure of one traced operation."""
    own = [s for s in spans if s.op == op.oid]

    def total(name):
        return sum(s.duration for s in own if s.name == name)

    def busy(prefix):
        return union_length([(s.start, s.end) for s in own
                             if s.name.startswith(prefix)])

    out = {"wall_s": op.wall}
    for kind in sorted(set(FS_KINDS.values())):
        out[f"fs.{kind}"] = counts.get(f"fs.{kind}", 0)
    out["fs.busy_s"] = busy("fs.")
    out["catalog.reads"] = counts.get("catalog.reads", 0)
    out["catalog.writes"] = counts.get("catalog.writes", 0)
    out["catalog.busy_s"] = busy("catalog.")
    out["catalog.cas_conflicts"] = counts.get("catalog.cas_conflicts", 0)
    publishes = [s for s in own if s.name == "staging.publish"]
    out["staging.write_job_s"] = total("staging.write_job")
    out["staging.publish_s"] = sum(self_time(p, [
        c for c in own if c.parent == p.sid
        and c.name in ("staging.write_job", "stats.collect")])
        for p in publishes)
    out["staging.partitions_published"] = counts.get(
        "staging.partitions_published", 0)
    out["stats.collect_s"] = total("stats.collect")
    out["partitioning.enumerate_keys_s"] = total(
        "partitioning.enumerate_keys")
    out["partitioning.compile_s"] = total("partitioning.compile")
    out["collection.plan_s"] = total("collection.plan")
    out["spark.plan_s"] = total("spark.plan")
    out["zonemap.considered"] = counts.get("zonemap.considered", 0)
    out["zonemap.kept"] = counts.get("zonemap.kept", 0)
    out["zonemap.useful"] = counts.get("zonemap.useful", 0)
    sp = spark.op_metrics(op.start, op.end)
    jobs = sp.pop("_intervals")
    out.update(sp)
    # every span is a layer span (``spark.plan`` included); the read's
    # action itself is not one, so driver time outside its jobs stays
    # unattributed
    covered = union_length([(s.start, s.end) for s in own] + [
        (max(a, op.start), min(b, op.end)) for a, b in jobs])
    out["unattributed_s"] = max(op.wall - covered, 0.0)
    for name in SPANS:
        out[f"self.{name}"] = sum(
            self_time(s, [c for c in own if c.parent == s.sid])
            for s in own if s.name == name)
    return out


def collect(ctx: dict, logdir: Path) -> "tuple[dict, dict]":
    """``(result-line metrics, per-class figures)`` of a traced run."""
    from .sparklog import SparkLog, read_events
    tracer, cycle = ctx["tracer"], ctx["cycle"]
    spark = SparkLog(read_events(logdir))
    traced = [o for o in tracer.ops if o.traced]
    per_op = {o.oid: _op_layers(o, tracer.spans, tracer.counts[o.oid],
                                spark) for o in traced}
    classes = sorted({o.cls for o in traced})
    per_class = {
        c: {k: median(per_op[o.oid][k] for o in traced if o.cls == c)
            for k in per_op[traced[0].oid]}
        for c in classes}
    for c in classes:
        per_class[c]["ops"] = sum(1 for o in traced if o.cls == c)

    def over(names, key, fn=median):
        vals = [per_op[o.oid][key] for o in traced if o.cls in names]
        return fn(vals) if vals else 0.0

    def mean(vals):
        return sum(vals) / len(vals)

    useful = [per_op[o.oid]["zonemap.useful"] / per_op[o.oid]["zonemap.kept"]
              for o in traced if o.cls == "range_read"
              and per_op[o.oid]["zonemap.kept"]]
    walls = {c: (median(tracer.walls(c, True)), median(tracer.walls(c, False)))
             for c in CLASSES}
    untraced = sum(u for _, u in walls.values())
    overhead = (sum(t for t, _ in walls.values()) / untraced - 1.0
                if untraced and all(walls.values()) else 0.0)
    from .cycle import tree_bytes
    files, _ = tree_bytes(cycle.path)
    all_classes = {o.cls for o in traced}
    metrics = {
        "session.start_s": (ctx["session_s"], "s"),
        "catalog.cas_conflicts": (over(all_classes, "catalog.cas_conflicts",
                                       sum), "count"),
        "catalog.doc_bytes": (ctx["doc_bytes"], "bytes"),
        "staging.write_job_s": (over(WRITES, "staging.write_job_s"), "s"),
        "staging.publish_s": (over(WRITES, "staging.publish_s"), "s"),
        "staging.partitions_published": (
            over(WRITES, "staging.partitions_published"), "count"),
        "stats.collect_s": (over(WRITES, "stats.collect_s"), "s"),
        "partitioning.enumerate_keys_s": (
            over(WRITES, "partitioning.enumerate_keys_s"), "s"),
        "partitioning.compile_s": (over(READS, "partitioning.compile_s"),
                                   "s"),
        "zonemap.considered": (over(("range_read",), "zonemap.considered"),
                               "count"),
        "zonemap.kept": (over(("range_read",), "zonemap.kept"), "count"),
        "zonemap.useful_ratio": (median(useful), "ratio"),
        "collection.plan_s": (over(READS, "collection.plan_s"), "s"),
        "spark.plan_s": (over(READS, "spark.plan_s"), "s"),
        "merge.rewrite_amplification": (
            median(cycle.rewrite_amplification), "ratio"),
        "collection.files": (files, "count"),
        **{k: (ctx["zarr3"][k], "MB/s") for k in ZARR3_RATES},
        "datasource.input_partitions": (
            over(READS, "datasource.input_partitions"), "count"),
        "python.bytes_received": (over(READS, "python.bytes_received"),
                                  "bytes"),
        "python.rows_received": (over(READS, "python.rows_received"),
                                 "count"),
        "spark.stages": (over(all_classes, "spark.stages", mean), "count"),
        "spark.task_skew": (over(all_classes, "spark.task_skew"), "ratio"),
        "trace.overhead": (overhead, "ratio"),
        "trace.spans": (len(tracer.spans), "count"),
    }
    for key in ("executor_run_s", "executor_cpu_s", "gc_s",
                "scheduler_delay_s"):
        metrics[f"spark.{key}"] = (over(all_classes, f"spark.{key}", mean),
                                   "s")
    for key in ("shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
                "input_bytes", "output_bytes"):
        metrics[f"spark.{key}"] = (over(all_classes, f"spark.{key}", mean),
                                   "bytes")
    for c in CLASSES:
        for key in PER_CLASS:
            unit = ("s" if key.endswith("_s") else "count")
            metrics[f"{c}.{key}"] = (per_class.get(c, {}).get(key, 0.0), unit)
    for name in metrics:
        check_metric_name(name)
    return metrics, per_class


def write_spans(tracer, path: Path) -> None:
    path.parent.mkdir(parents=True, exist_ok=True)
    with open(path, "w") as f:
        json.dump({
            "ops": [{"id": o.oid, "class": o.cls, "start": o.start,
                     "end": o.end, "traced": o.traced} for o in tracer.ops],
            "spans": [{"id": s.sid, "name": s.name, "op": s.op,
                       "parent": s.parent, "start": s.start, "end": s.end}
                      for s in tracer.spans]}, f)
