"""Benchmark entry point.

    python3 perfbench/run.py --workload oltp_social --seed 1 --seconds 10 --trace 0

Run from the root of a source tree of the engine. Each run is one fresh
process with its own temporary, warehouse and Spark local directories under
``.perfbench/``, removed at exit. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` — the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import sys
import tempfile
import time
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("oltp_social", "analytics_scale", "llm_pipeline")

END_TO_END = {"setup_s": "s", "cold_pass_s": "s", "warm_pass_s": "s", "ops_per_s": "1/s"}
SPARK_SUMS = ("executor_run_s", "executor_cpu_s", "gc_s", "scan_mb", "shuffle_read_mb",
              "shuffle_write_mb", "spill_mb", "jobs", "stages", "tasks", "python_exec_s")
# Layers whose self time the traced run always reports: the ones the
# workloads in BENCHMARK.json exercise.
SELF_LAYERS = ("llm.dedup", "llm.simsearch", "functions.text", "operators.windows",
               "streaming.ops", "sources.io")
PER_LAYER = {
    "session.get_spark_s": "s", "catalog.create_table_ms": "ms",
    "storage.append_ms": "ms", "storage.jobs_per_write": "count",
    "storage.read_partition_ms": "ms", "storage.jobs_per_read": "count",
    "storage.files_per_read": "count", "storage.read_page_ms": "ms",
    "storage.files_total": "count", "storage.bytes_per_user_byte": "ratio",
    "cql.execute_self_ms": "ms", "api.route_self_ms": "ms",
    "api.read_p50_ms": "ms", "api.read_tail_ms": "ms", "api.write_p50_ms": "ms",
    "api.write_tail_ms": "ms", "api.scan_p50_ms": "ms",
    **{f"spark.{k}": "count" if k in ("jobs", "stages", "tasks") else
       ("MB" if k.endswith("_mb") else "s") for k in SPARK_SUMS},
    "spark.driver_gap_s": "s",
    "llm.slots.hits": "count", "llm.slots.fills": "count", "llm.slots.rolls": "count",
    **{f"{layer}.self_s": "s" for layer in SELF_LAYERS},
    "host.calib_s": "s", "peak_rss_mb": "MB", "trace.overhead_pct": "%",
}


def sweep_units(queries) -> dict[str, str]:
    """Per-query and per-registry-module names of a sweep's query set."""
    from sweep import module_of

    units = {}
    for m in sorted({module_of(q) for q in queries}):
        units[f"queries.{m}.build_s"] = "s"
        units[f"queries.{m}.exec_s"] = "s"
    for q in queries:
        units[f"query.{q}.warm_s"] = "s"
    return units


def isolate(work: str, trace: bool) -> None:
    """Point every temporary and Spark directory of this process (and of
    the JVM and Python workers it starts) into ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_MASTER"] = f"local[{len(os.sched_getaffinity(0))}]"  # nproc
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    confs = [f"spark.sql.warehouse.dir={os.path.join(work, 'spark-warehouse')}",
             f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}"]
    if trace:
        from tracing import launch_conf

        os.makedirs(os.path.join(work, "eventlog"))
        confs += launch_conf(os.path.join(work, "eventlog"))
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(c)}" for c in confs) + " pyspark-shell"


def run_pass(wl, sc, tracer, idx: int, traced: bool) -> dict:
    import common

    if tracer is not None:
        tracer.on = traced
    span0 = len(tracer.spans) if tracer else 0
    ticks0 = common.cpu_ticks()
    ops = []
    for j, kind in enumerate(wl.ops()):
        group = f"p{idx}.{j}.{kind}"
        if traced:
            sc.setJobGroup(group, group)
        start_ms = time.time() * 1e3
        lat, build, check = wl.request(kind)
        wall_ms = (start_ms, time.time() * 1e3)
        ops.append(dict(kind=kind, lat=lat, build=build, group=group, wall_ms=wall_ms, check=check))
    stolen = common.stolen_share(ticks0, common.cpu_ticks())
    if traced:
        sc.setLocalProperty("spark.jobGroup.id", None)
    if tracer is not None:
        tracer.on = False
    for op in ops:
        op["ok"] = bool(op.pop("check")())
    time_s = sum(o["lat"] for o in ops)
    return dict(idx=idx, traced=traced, ops=ops, time=time_s, stolen=stolen, net=time_s * (1.0 - stolen),
                spans=(span0, len(tracer.spans) if tracer else 0))


def measure(args, work: str, cache: str):
    import common
    from tracing import Tracer

    if args.workload == "oltp_social":
        import oltp

        wl = oltp.Workload(args.seed, args.seconds, work)
    else:
        import sweep

        wl = sweep.Workload(args.workload, args.seed, args.seconds, work, cache)
    tracer = Tracer() if args.trace else None

    # The first set-up launches the JVM; setup_s is the median of the
    # set-ups after it, each a fresh SparkContext in the running JVM, net
    # of the hypervisor's steal like the passes.
    setups, stolen, spark, launch_s = [], [], None, 0.0
    for i in range(wl.setups):
        if spark is not None:
            spark.stop()
        if tracer is not None and i == wl.setups - 1:
            tracer.install()
            tracer.on = True
        t0, ticks0 = time.perf_counter(), common.cpu_ticks()
        spark, start_s = common.get_session()
        launch_s = launch_s or start_s
        common.warm_up(spark)
        wl.load(spark)
        setups.append(time.perf_counter() - t0)
        stolen.append(common.stolen_share(ticks0, common.cpu_ticks()))
    setup_spans = len(tracer.spans) if tracer else 0
    if tracer is not None:
        tracer.on = False
    sc = spark.sparkContext
    host = common.HostControl(spark, work)
    host.measure(spark)

    n_passes = wl.passes
    if tracer is not None:
        # each warm pass becomes three, run traced, untraced, traced, so
        # that a linear drift over the run (compilation, the growing log)
        # cancels out of the tracing overhead
        n_passes = 1 + 3 * (n_passes - 1)
    passes = [run_pass(wl, sc, tracer, 0, bool(tracer))]
    for idx in range(1, n_passes):
        passes.append(run_pass(wl, sc, tracer, idx, tracer is not None and (idx - 1) % 3 != 1))
    host.measure(spark)
    rss = common.peak_rss_mb()
    app_id = sc.applicationId
    common.stop_session(spark)

    ops = [o for p in passes for o in p["ops"]]
    failed = sum(1 for o in ops if not o["ok"])
    calib = common.median(host.samples)
    print(f"perfbench: {args.workload} seed={args.seed} passes={len(passes)} "
          f"setups={[round(s, 3) for s in setups]} stolen={[round(s, 3) for s in stolen]} "
          f"host.calib_s={[round(s, 4) for s in host.samples]} failed={failed}/{len(ops)}",
          file=sys.stderr)
    for p in passes:
        print(f"perfbench: pass {p['idx']}{' traced' if p['traced'] else ''} {p['time']:.3f}s, "
              f"stolen {p['stolen']:.3f}, net {p['net']:.3f}s: "
              + " ".join(f"{o['kind']}={o['lat']:.3f}{'' if o['ok'] else '(WRONG)'}" for o in p["ops"]),
              file=sys.stderr)

    if not args.trace:
        # Times are net of the hypervisor's steal: other tenants of the host
        # stretch a whole pass by half or more. A time is shrunk by the
        # share of the wanted vCPU time that was stolen while it ran.
        metrics = {
            "setup_s": common.median([t * (1.0 - st) for t, st in zip(setups[1:], stolen[1:])]),
            "cold_pass_s": passes[0]["net"],
            "warm_pass_s": common.median([p["net"] for p in passes[1:]]),
            "ops_per_s": len(ops) / sum(p["net"] for p in passes),
        }
        units = END_TO_END
    else:
        metrics = layer_metrics(wl, tracer, passes, setup_spans, work, app_id)
        metrics["session.get_spark_s"] = launch_s
        metrics["host.calib_s"] = calib
        metrics["peak_rss_mb"] = rss
        import sweep

        units = dict(PER_LAYER)
        units.update(sweep_units(sweep.SETS["llm_pipeline"]["queries"]))
        if args.workload == "analytics_scale":
            # outside BENCHMARK.json's workloads: report what it touched too
            units.update(sweep_units(wl.queries))
            units.update({k: "s" for k in metrics if k.endswith(".self_s")})
        metrics = {k: metrics.get(k, 0.0) for k in units}
    return {
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }


def layer_metrics(wl, tracer, passes, setup_spans, work, app_id) -> dict:
    import common
    from tracing import SPANNED_MODULES, fold_event_log, union_ms

    out: dict[str, float] = {}
    warm = passes[1:]
    traced = [p for p in warm if p["traced"]]
    plain = [p for p in warm if not p["traced"]]
    n = len(traced)
    ops = {o["group"]: o["wall_ms"] for p in passes for o in p["ops"]}

    def owner(group, submitted_ms):
        if group in ops:
            return group
        # Jobs Spark runs under a group of its own (a streaming query's
        # micro-batches) belong to the operation running when they started:
        # the client runs one operation at a time.
        return next((g for g, (s, e) in ops.items() if s <= submitted_ms <= e), None)

    groups = fold_event_log(os.path.join(work, "eventlog"), app_id, owner)

    def spans(p):
        return tracer.spans[p["spans"][0]:p["spans"][1]]

    # Spark task metrics and the driver gap, per traced warm pass
    sums = defaultdict(float)
    for p in traced:
        for o in p["ops"]:
            g = groups.get(o["group"])
            busy = 0.0
            if g is not None:
                for k in SPARK_SUMS:
                    sums[k] += g[k]
                busy = union_ms(g["intervals"])
            sums["driver_gap_s"] += max(0.0, o["lat"] * 1e3 - busy) / 1e3
    for k, v in sums.items():
        out[f"spark.{k}"] = v / n

    # self time per layer, per traced warm pass
    selfs = defaultdict(float)
    for p in traced:
        for layer, s in tracer.self_seconds_of(spans(p)).items():
            selfs[layer] += s
    for layer, s in selfs.items():
        if layer in SPANNED_MODULES.values():
            out[f"{layer}.self_s"] = s / n

    out["trace.overhead_pct"] = 100.0 * (
        common.median([p["net"] for p in traced]) / common.median([p["net"] for p in plain]) - 1.0)
    out["llm.slots.hits"] = tracer.slot_events.count("hits")
    out["llm.slots.fills"] = tracer.slot_events.count("fills")
    out["llm.slots.rolls"] = tracer.slot_events.count("rolls")

    setup = tracer.spans[:setup_spans]
    ms = [sp.dur * 1e3 for sp in setup if sp.name == "Keyspace.create_table"]
    out["catalog.create_table_ms"] = common.median(ms)

    if hasattr(wl, "storage_shape"):
        warm_spans = [sp for p in traced for sp in spans(p)]

        def med_ms(name, self_time=False):
            return common.median([(sp.self_s if self_time else sp.dur) * 1e3
                                  for sp in warm_spans if sp.name == name])

        out["storage.append_ms"] = med_ms("WideColumnTable.append")
        out["storage.read_partition_ms"] = med_ms("WideColumnTable.read_partition")
        out["storage.read_page_ms"] = med_ms("WideColumnTable.read_page")
        out["cql.execute_self_ms"] = med_ms("CqlSession.execute", self_time=True)
        out["api.route_self_ms"] = common.median(
            [sp.self_s * 1e3 for sp in warm_spans if sp.layer == "api"])
        files = [sp.meta["files"] for sp in warm_spans if "files" in sp.meta]
        out["storage.files_per_read"] = sum(files) / max(1, len(files))
        from oltp import KIND_CLASS

        for cls, key in (("write", "storage.jobs_per_write"), ("read", "storage.jobs_per_read")):
            jobs = [groups[o["group"]]["jobs"] if o["group"] in groups else 0
                    for p in traced for o in p["ops"] if KIND_CLASS[o["kind"]] == cls]
            out[key] = sum(jobs) / max(1, len(jobs))
        for cls in ("read", "write", "scan"):
            lat = [o["lat"] * 1e3 for p in warm for o in p["ops"] if KIND_CLASS[o["kind"]] == cls]
            out[f"api.{cls}_p50_ms"] = common.median(lat)
            if cls != "scan":
                value, pct = common.tail(lat)
                out[f"api.{cls}_tail_ms"] = value
                print(f"perfbench: api.{cls}_tail_ms is p{pct} of {len(lat)} samples",
                      file=sys.stderr)
        out.update(wl.storage_shape())
    else:
        from sweep import module_of

        for m in {module_of(q) for q in wl.queries}:
            ops_m = [o for p in traced for o in p["ops"] if module_of(o["kind"]) == m]
            out[f"queries.{m}.build_s"] = sum(o["build"] for o in ops_m) / n
            out[f"queries.{m}.exec_s"] = sum(o["lat"] - o["build"] for o in ops_m) / n
        for q in wl.queries:
            out[f"query.{q}.warm_s"] = common.median(
                [o["lat"] for p in warm for o in p["ops"] if o["kind"] == q])
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "cassandrastack_spark")):
        print(f"perfbench: no engine source tree at {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    base = os.path.join(ROOT, ".perfbench")
    os.makedirs(os.path.join(base, "runs"), exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=os.path.join(base, "runs"))
    try:
        isolate(work, bool(args.trace))
        result = measure(args, work, os.path.join(base, "oracle-cache"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
