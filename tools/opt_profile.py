#!/usr/bin/env python
"""Stage-level attribution for a named query via the Spark event log
(guide §7.1's UI workflow, headless). Runs the query once with
``spark.eventLog.enabled`` and prints, per job, the stages with their
wall time, task count, shuffle read/write bytes and records — so
optimization targets the stage the seconds actually live in.

Usage::

    python tools/opt_profile.py dedup_cluster_components
    python tools/opt_profile.py --passes 2 graph_pagerank_events
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, REPO)

EVDIR = "/tmp/spark-events-opt"


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--passes", type=int, default=1)
    args = ap.parse_args()

    import shutil

    os.makedirs(EVDIR, exist_ok=True)
    for f in glob.glob(os.path.join(EVDIR, "*")):
        shutil.rmtree(f) if os.path.isdir(f) else os.remove(f)

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    os.environ.setdefault("SPARK_GRAFT_MASTER", f"local[{cpus}]")

    from cassandrastack_spark.queries import load_all
    from cassandrastack_spark.session import spark_builder

    registry = load_all()
    # event-log confs must be set before the session starts
    spark = (
        spark_builder("opt-profile")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", EVDIR)
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.rolling.enabled", "false")
        .getOrCreate()
    )

    spark.read.parquet(os.path.join(sf_dir, "region.parquet")).count()

    marks: list[tuple[str, float, float]] = []  # (name, t_wall_start, t_wall)
    for name in args.names:
        qd = registry[name]
        for p in range(args.passes):
            spark.sparkContext.setJobDescription(f"prof:{name}:p{p}")
            t0 = time.time()
            qd.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            el = time.time() - t0
            marks.append((f"{name}:p{p}", t0, el))
            print(f"WALL {name} pass{p}: {el:.3f}s", flush=True)
        spark.sparkContext.setJobDescription(None)

    spark.stop()
    time.sleep(1.0)

    # parse the event log (Spark 4 rolling layout: a directory holding
    # events_1_<appid> part files)
    newest = sorted(glob.glob(os.path.join(EVDIR, "*")))[-1]
    if os.path.isdir(newest):
        part_files = sorted(glob.glob(os.path.join(newest, "events_*")))
    else:
        part_files = [newest]
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    stage_to_job: dict[int, int] = {}
    def _lines():
        for pf in part_files:
            with open(pf) as f:
                yield from f

    if True:
        for line in _lines():
            try:
                ev = json.loads(line)
            except json.JSONDecodeError:
                continue
            et = ev.get("Event")
            if et == "SparkListenerJobStart":
                jid = ev["Job ID"]
                desc = ev.get("Properties", {}).get(
                    "spark.job.description", ""
                )
                jobs[jid] = {
                    "desc": desc,
                    "t0": ev["Submission Time"],
                    "stages": [s["Stage ID"] for s in ev["Stage Infos"]],
                }
                for s in ev["Stage Infos"]:
                    stage_to_job[s["Stage ID"]] = jid
            elif et == "SparkListenerJobEnd":
                jid = ev["Job ID"]
                if jid in jobs:
                    jobs[jid]["t1"] = ev["Completion Time"]
            elif et == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                sid = si["Stage ID"]
                sub = si.get("Submission Time")
                com = si.get("Completion Time")
                stages[sid] = {
                    "name": si["Stage Name"],
                    "tasks": si["Number of Tasks"],
                    "ms": (com - sub) if sub and com else 0,
                }
            elif et == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                m = ev.get("Task Metrics") or {}
                st = stages.setdefault(sid, {"name": "?", "tasks": 0, "ms": 0})
                st["task_ms"] = st.get("task_ms", 0) + (
                    m.get("Executor Run Time", 0)
                )
                sr = m.get("Shuffle Read Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                st["sh_read"] = st.get("sh_read", 0) + sr.get(
                    "Remote Bytes Read", 0
                ) + sr.get("Local Bytes Read", 0)
                st["sh_write"] = st.get("sh_write", 0) + sw.get(
                    "Shuffle Bytes Written", 0
                )
                st["recs"] = st.get("recs", 0) + (
                    (m.get("Input Metrics") or {}).get("Records Read", 0)
                )

    # group jobs by description
    by_desc: dict[str, list[int]] = {}
    for jid, j in jobs.items():
        by_desc.setdefault(j["desc"] or "(none)", []).append(jid)

    for desc in sorted(by_desc):
        jids = sorted(by_desc[desc])
        tot = sum(
            (jobs[j].get("t1", jobs[j]["t0"]) - jobs[j]["t0"]) for j in jids
        )
        print(f"\n=== {desc} — {len(jids)} jobs, {tot/1000.0:.3f}s job-wall ===")
        for jid in jids:
            j = jobs[jid]
            jw = (j.get("t1", j["t0"]) - j["t0"]) / 1000.0
            if jw < 0.02:
                continue
            print(f"  job {jid}: {jw:.3f}s")
            for sid in sorted(j["stages"]):
                st = stages.get(sid)
                if not st or st.get("ms", 0) < 10:
                    continue
                nm = st["name"].split("\n")[0][:90]
                print(
                    f"    stage {sid}: {st['ms']/1000.0:6.3f}s "
                    f"tasks={st['tasks']:3d} "
                    f"taskms={st.get('task_ms', 0):6d} "
                    f"shR={st.get('sh_read', 0):>9d} "
                    f"shW={st.get('sh_write', 0):>9d} "
                    f"recs={st.get('recs', 0):>8d}  {nm}"
                )


if __name__ == "__main__":
    main()
