"""Per-task skew analysis of a Spark event log.

For every stage: task count, median/max of per-task processed records
(input records + shuffle-read records) and bytes, and the max/median
ratio — the straggler signal. A balanced stage sits near 1; a stage
where one task holds a mega-hub's rows shows the hub fraction divided
by the median task share.

    python bench/task_skew.py <eventlog-file> [--min-tasks 4]

Importable: `stage_skew(path)` returns the per-stage dicts.
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


def stage_skew(path: str) -> list[dict]:
    stages: dict[tuple, dict] = {}
    for line in _event_lines(path):
        try:
            ev = json.loads(line)
        except json.JSONDecodeError:
            continue
        kind = ev.get("Event")
        if kind == "SparkListenerStageCompleted":
            si = ev["Stage Info"]
            st = stages.setdefault(
                (si["Stage ID"], si["Stage Attempt ID"]),
                {"records": [], "bytes": [], "ms": [], "wrecords": [], "orecords": []},
            )
            st["name"] = si["Stage Name"].split("\n")[0][:80]
            st["n_tasks"] = si.get("Number of Tasks")
        elif kind == "SparkListenerTaskEnd":
            st = stages.setdefault(
                (ev["Stage ID"], ev["Stage Attempt ID"]),
                {"records": [], "bytes": [], "ms": [], "wrecords": [], "orecords": []},
            )
            tm = ev.get("Task Metrics") or {}
            inp = tm.get("Input Metrics") or {}
            shr = tm.get("Shuffle Read Metrics") or {}
            shw = tm.get("Shuffle Write Metrics") or {}
            outm = tm.get("Output Metrics") or {}
            recs = (inp.get("Records Read") or 0) + (
                shr.get("Total Records Read") or 0
            )
            wrecs = shw.get("Shuffle Records Written") or 0
            byts = (
                (inp.get("Bytes Read") or 0)
                + (shr.get("Remote Bytes Read") or 0)
                + (shr.get("Local Bytes Read") or 0)
            )
            ti = ev.get("Task Info") or {}
            st["records"].append(recs)
            st["wrecords"].append(wrecs)
            st["orecords"].append(outm.get("Records Written") or 0)
            st["bytes"].append(byts)
            st["ms"].append(
                (ti.get("Finish Time") or 0) - (ti.get("Launch Time") or 0)
            )

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
        out.append(
            {
                "stage_id": sid,
                "name": st.get("name", "?"),
                "n_tasks": len(recs),
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
            }
        )
    return out


def main() -> None:
    import argparse

    ap = argparse.ArgumentParser()
    ap.add_argument("eventlog")
    ap.add_argument("--min-tasks", type=int, default=4)
    args = ap.parse_args()
    rows = [s for s in stage_skew(args.eventlog) if s["n_tasks"] >= args.min_tasks]
    print(
        f"{'sid':>4} {'ntask':>6} {'rec_med':>10} {'rec_max':>10} {'ratio':>7} "
        f"{'ms_med':>8} {'ms_max':>8} {'ratio':>7}  stage"
    )
    for s in rows:
        print(
            f"{s['stage_id']:>4} {s['n_tasks']:>6} {s['records_median']:>10.0f} "
            f"{s['records_max']:>10} {s['records_ratio'] or 0:>7} "
            f"{s['ms_median']:>8.0f} {s['ms_max']:>8} {s['ms_ratio'] or 0:>7}  {s['name']}"
        )


if __name__ == "__main__":
    main()
