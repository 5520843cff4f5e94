"""Per-stage analysis of a Spark event log: time, parallelism and skew.

For every stage: wall span (submit → complete), summed task time and
the effective parallelism (task time / wall), task count, median/max
of per-task processed records (input records + shuffle-read records)
and bytes, and the max/median ratio — the straggler signal. A balanced
stage sits near 1; a stage where one task holds a mega-hub's rows
shows the hub fraction divided by the median task share.

    python bench/task_skew.py <eventlog-file-or-dir> [--min-tasks 4]

Importable: `stage_skew(path)` returns the per-stage dicts, each also
carrying task CPU and run time, shuffle read/write totals, the RDD
scope names that map the stage to plan operators, and the description
of the job that ran it (`tools/profile_stages.py` builds its table
from these).
"""

from __future__ import annotations

import json
import statistics


def _event_lines(path: str):
    """Yield event-log lines from a single-file log or a Spark 4
    eventlog_v2 rolling directory (events_* files, index order)."""
    import os

    if os.path.isdir(path):
        parts = sorted(
            os.path.join(path, f) for f in os.listdir(path) if f.startswith("events")
        )
    else:
        parts = [path]
    for p in parts:
        with open(p, encoding="utf-8") as f:
            yield from f


def _scopes(stage_info: dict) -> str:
    """The stage's RDD scope names (Exchange, Window, Generate, ...)."""
    names: list[str] = []
    for ri in stage_info.get("RDD Info", []):
        try:
            nm = json.loads(ri.get("Scope") or "{}").get("name", "")
        except json.JSONDecodeError:
            nm = ""
        if nm and nm not in names:
            names.append(nm)
    return ",".join(names[:6])


_SUMS = ("cpu_s", "run_s", "sr_bytes", "sr_records", "sw_bytes", "sw_records")


def stage_skew(path: str) -> list[dict]:
    stages: dict[tuple, dict] = {}
    desc: dict[int, str] = {}

    def stage(key):
        return stages.setdefault(
            key,
            {"records": [], "bytes": [], "ms": [], "wrecords": [], "orecords": []}
            | dict.fromkeys(_SUMS, 0.0),
        )

    for line in _event_lines(path):
        try:
            ev = json.loads(line)
        except json.JSONDecodeError:
            continue
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            d = (ev.get("Properties") or {}).get("spark.job.description") or ""
            for sid in ev.get("Stage IDs", []):
                desc[sid] = d
        elif kind == "SparkListenerStageCompleted":
            si = ev["Stage Info"]
            st = stage((si["Stage ID"], si["Stage Attempt ID"]))
            st["name"] = si["Stage Name"].split("\n")[0][:80]
            st["scopes"] = _scopes(si)
            sub, comp = si.get("Submission Time"), si.get("Completion Time")
            st["wall_s"] = (comp - sub) / 1000.0 if sub and comp else None
        elif kind == "SparkListenerTaskEnd":
            st = stage((ev["Stage ID"], ev["Stage Attempt ID"]))
            tm = ev.get("Task Metrics") or {}
            inp = tm.get("Input Metrics") or {}
            shr = tm.get("Shuffle Read Metrics") or {}
            shw = tm.get("Shuffle Write Metrics") or {}
            outm = tm.get("Output Metrics") or {}
            sr_bytes = (shr.get("Remote Bytes Read") or 0) + (shr.get("Local Bytes Read") or 0)
            recs = (inp.get("Records Read") or 0) + (
                shr.get("Total Records Read") or 0
            )
            ti = ev.get("Task Info") or {}
            st["records"].append(recs)
            st["wrecords"].append(shw.get("Shuffle Records Written") or 0)
            st["orecords"].append(outm.get("Records Written") or 0)
            st["bytes"].append((inp.get("Bytes Read") or 0) + sr_bytes)
            st["ms"].append(
                (ti.get("Finish Time") or 0) - (ti.get("Launch Time") or 0)
            )
            st["cpu_s"] += (tm.get("Executor CPU Time") or 0) / 1e9
            st["run_s"] += (tm.get("Executor Run Time") or 0) / 1e3
            st["sr_bytes"] += sr_bytes
            st["sr_records"] += shr.get("Total Records Read") or 0
            st["sw_bytes"] += shw.get("Shuffle Bytes Written") or 0
            st["sw_records"] += shw.get("Shuffle Records Written") or 0

    out = []
    for (sid, att), st in sorted(stages.items()):
        recs = st.get("records") or []
        if not recs:
            continue
        med_r = statistics.median(recs)
        wrecs = st.get("wrecords") or [0]
        med_w = statistics.median(wrecs)
        med_b = statistics.median(st["bytes"])
        med_ms = statistics.median(st["ms"])
        wall = st.get("wall_s")
        task_s = sum(st["ms"]) / 1000.0
        out.append(
            {
                "stage_id": sid,
                "name": st.get("name", "?"),
                "scopes": st.get("scopes", ""),
                "description": desc.get(sid, ""),
                "n_tasks": len(recs),
                # wall span vs summed task time: where cores sit idle
                # (scheduling gaps, stragglers, undersized stages)
                "wall_s": wall,
                "task_s": task_s,
                "parallelism": round(task_s / wall, 2) if wall else None,
                "records_median": med_r,
                "records_max": max(recs),
                "records_ratio": round(max(recs) / med_r, 2) if med_r else None,
                # shuffle WRITE records: the output side — a hot join
                # key's quadratic pair emission shows here even when
                # the stage's INPUT is balanced
                "wrecords_median": med_w,
                "wrecords_max": max(wrecs),
                "wrecords_ratio": round(max(wrecs) / med_w, 2) if med_w else None,
                # records written to the output table (a file-writing stage)
                "output_records": sum(st["orecords"]),
                "bytes_median": med_b,
                "bytes_max": max(st["bytes"]),
                "ms_median": med_ms,
                "ms_max": max(st["ms"]),
                "ms_ratio": round(max(st["ms"]) / med_ms, 2) if med_ms else None,
                **{k: st[k] for k in _SUMS},
            }
        )
    return out


def main() -> None:
    import argparse

    ap = argparse.ArgumentParser()
    ap.add_argument("eventlog")
    ap.add_argument("--min-tasks", type=int, default=4)
    args = ap.parse_args()
    stages = stage_skew(args.eventlog)
    wall = sum(s["wall_s"] or 0 for s in stages)
    task = sum(s["task_s"] for s in stages)
    print(f"sum(stage walls): {wall:.1f}s  sum(task time): {task:.1f}s  "
          f"parallelism: {task / wall if wall else 0:.2f}")
    print(
        f"{'sid':>4} {'wall_s':>7} {'task_s':>7} {'par':>5} {'ntask':>6} "
        f"{'rec_med':>10} {'rec_max':>10} {'ratio':>7} "
        f"{'ms_med':>8} {'ms_max':>8} {'ratio':>7}  stage"
    )
    for s in stages:
        if s["n_tasks"] < args.min_tasks:
            continue
        print(
            f"{s['stage_id']:>4} {s['wall_s'] or 0:>7.2f} {s['task_s']:>7.2f} "
            f"{s['parallelism'] or 0:>5} {s['n_tasks']:>6} "
            f"{s['records_median']:>10.0f} {s['records_max']:>10} {s['records_ratio'] or 0:>7} "
            f"{s['ms_median']:>8.0f} {s['ms_max']:>8} {s['ms_ratio'] or 0:>7}  {s['name']}"
        )


if __name__ == "__main__":
    main()
