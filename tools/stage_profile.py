"""Per-job/stage breakdown for one query via the Spark event log (the
UI-less twin of guide §7.1): run the query with eventLog enabled, then
parse the JSON log into a job/stage table — stage wall time, task count,
total task time, shuffle bytes — so the expensive stage is identifiable
without the UI.

The session is ``session.get_spark``'s, so stages are profiled under the
engine's own config; only the two event-log confs are added, through
``PYSPARK_SUBMIT_ARGS`` before the JVM starts.

Usage: python tools/stage_profile.py <query> [runs]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
os.chdir(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
LOG_DIR = "/tmp/sparklogs"


def main() -> None:
    name = sys.argv[1]
    runs = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    os.makedirs(LOG_DIR, exist_ok=True)
    # Each SparkSession.builder access returns a fresh Builder, so the
    # event-log confs cannot be pre-set on the one get_spark uses; the
    # launcher reads them from the submit args when the JVM starts.
    submit = os.environ.get("PYSPARK_SUBMIT_ARGS", "pyspark-shell")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.eventLog.enabled=true "
        f"--conf spark.eventLog.dir=file:{LOG_DIR} {submit}"
    )

    from be_analytic_etl_spark.registry import QUERIES
    from be_analytic_etl_spark.session import cached_scope, get_spark

    spark = get_spark(f"stage-profile-{name}")
    spark.sparkContext.setLogLevel("ERROR")
    app_id = spark.sparkContext.applicationId
    spark.read.parquet(f"{SF_DIR}/lineitem.parquet").count()

    wall = []
    for r in range(runs):
        spark.sparkContext.setJobDescription(f"{name} run {r}")
        t0 = time.perf_counter()
        with cached_scope(spark):
            df = QUERIES[name](spark, SF_DIR)
            t_build = time.perf_counter() - t0
            df.write.mode("overwrite").format("noop").save()
        wall.append((round(time.perf_counter() - t0, 3), round(t_build, 3)))
    spark.stop()

    print(f"{name}: wall(build) per run: {wall}")

    import glob
    import subprocess

    cands = glob.glob(os.path.join(LOG_DIR, f"*{app_id}*"))
    log_path = cands[0]
    if os.path.isdir(log_path):
        log_path = sorted(glob.glob(os.path.join(log_path, "events_*")))[0]
    if log_path.endswith(".zstd"):
        lines = (
            subprocess.run(["zstd", "-dc", log_path], capture_output=True, check=True)
            .stdout.decode()
            .splitlines()
        )
    else:
        lines = open(log_path).read().splitlines()
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    for line in lines:
        ev = json.loads(line)
        e = ev.get("Event")
        if e == "SparkListenerJobStart":
            jobs[ev["Job ID"]] = {
                "t0": ev["Submission Time"],
                "desc": (ev.get("Properties") or {}).get(
                    "spark.job.description", ""
                )[:60],
                "stages": [s["Stage ID"] for s in ev["Stage Infos"]],
            }
        elif e == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["t1"] = ev["Completion Time"]
        elif e == "SparkListenerStageCompleted":
            si = ev["Stage Info"]
            sid = si["Stage ID"]
            stages[sid] = {
                "name": si["Stage Name"][:70],
                "tasks": si["Number of Tasks"],
                "ms": si.get("Completion Time", 0) - si.get("Submission Time", 0),
            }
        elif e == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            st = stages.setdefault(sid, {})
            m = ev.get("Task Metrics") or {}
            st["task_ms"] = st.get("task_ms", 0) + m.get("Executor Run Time", 0)
            srm = (m.get("Shuffle Read Metrics") or {})
            st["sh_read"] = (
                st.get("sh_read", 0)
                + srm.get("Remote Bytes Read", 0)
                + srm.get("Local Bytes Read", 0)
            )
            swm = (m.get("Shuffle Write Metrics") or {})
            st["sh_write"] = st.get("sh_write", 0) + swm.get(
                "Shuffle Bytes Written", 0
            )

    print(f"\n{'job':>4} {'ms':>7}  desc / stages")
    for jid in sorted(jobs):
        j = jobs[jid]
        dur = j.get("t1", j["t0"]) - j["t0"]
        print(f"{jid:>4} {dur:>7}  {j['desc']}")
        for sid in sorted(j["stages"]):
            s = stages.get(sid)
            if not s or "ms" not in s:
                continue  # skipped stage
            print(
                f"       stage {sid:>4} {s['ms']:>6}ms tasks={s.get('tasks', 0):>3} "
                f"taskms={s.get('task_ms', 0):>6} shR={s.get('sh_read', 0):>8} "
                f"shW={s.get('sh_write', 0):>8}  {s.get('name', '')}"
            )


if __name__ == "__main__":
    main()
