"""Full scaling ladder (1/2/4/8/16/32 cores) on one code version.

Protocol (BENCH/BASELINE.md §3): same job — the end-to-end web-KG
pipeline via spark-submit --py-files dist/kgforge.zip — same 10M-page
input, identical configs except parallelism. Each rung runs in a quiet
window (loadavg gate); the headline N=1 vs 4N=4 pair gets best-of-2
alternating repeats, other rungs best-of-1 (bounded machine time).
Every run writes an UNCOMPRESSED event log; per-rung task-CPU totals
quantify the shared-host task-time inflation that caps E above ~8
local threads (cores compete for one DRAM bus + JVM heap — a property
this single-box sandbox has and a real multi-executor cluster does
not).

    python bench/ladder.py --pages 10000000 [--levels 1,2,4,8,16,32]
                           [--headline 1,4] [--headline-repeats 2]

Appends the ladder + pairwise-E + task-inflation tables to
BENCH/BASELINE.md and writes the raw JSON to
/tmp/kgforge_scaling/ladder.json.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "bench"))


def _task_cpu_seconds(eventlog_dir: str) -> float | None:
    """Sum of per-task run times across all stages of the single app
    in `eventlog_dir` (core-seconds actually consumed by tasks)."""
    from task_skew import stage_skew

    apps = [f for f in os.listdir(eventlog_dir) if not f.startswith(".")]
    if len(apps) != 1:
        return None
    stages = stage_skew(os.path.join(eventlog_dir, apps[0]))
    return round(sum(s["task_s"] for s in stages), 1)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", type=int, default=10_000_000)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--levels", default="1,2,4,8,16,32")
    ap.add_argument("--headline", default="1,4")
    ap.add_argument("--headline-repeats", type=int, default=2)
    ap.add_argument(
        "--md-out",
        default=os.path.join(ROOT, "BENCH", "BASELINE.md"),
        help="markdown file to append the ladder tables to",
    )
    ap.add_argument(
        "--json-out", default="/tmp/kgforge_scaling/ladder.json"
    )
    ap.add_argument("--label", default="round 4", help="round tag for the md section title")
    args = ap.parse_args()

    from scaling import run_one  # noqa: E402 (bench/ module)

    from kgforge.web.corpus import corpus_to_parquet
    from tools.package import build

    levels = [int(x) for x in args.levels.split(",")]
    headline = {int(x) for x in args.headline.split(",")}

    zip_path = build()
    pages_path = f"/tmp/kgforge_scaling/web_pages_{args.pages}_{args.seed}.parquet"
    if not os.path.exists(pages_path):
        os.makedirs(os.path.dirname(pages_path), exist_ok=True)
        print(f"generating {args.pages} pages → {pages_path}", file=sys.stderr)
        corpus_to_parquet(pages_path, n_pages=args.pages, seed=args.seed)

    def loadavg() -> float:
        with open("/proc/loadavg") as f:
            return float(f.read().split()[0])

    def wait_for_quiet(threshold: float = 2.0, timeout: float = 420.0) -> float:
        import time as _t

        t0 = _t.time()
        while _t.time() - t0 < timeout:
            la = loadavg()
            if la < threshold:
                return la
            _t.sleep(10)
        return loadavg()

    # run order: alternate headline pair repeats first (adjacent in
    # time → comparable ambient load), then the remaining rungs
    order: list[tuple[int, int]] = []
    for rep in range(args.headline_repeats):
        for c in sorted(headline):
            order.append((c, rep))
    for c in levels:
        if c not in headline:
            order.append((c, 0))

    best: dict[int, dict] = {}
    for cores, rep in order:
        elog = f"/tmp/kgforge_scaling/elog_c{cores}_r{rep}"
        if os.path.exists(elog):  # stale app dirs break the 1-app scan
            import shutil as _sh

            _sh.rmtree(elog)
        la = wait_for_quiet()
        print(f"[ladder] local[{cores}] rep {rep} (loadavg {la}) ...", file=sys.stderr)
        r = run_one(
            cores, pages_path, args.pages, zip_path,
            eventlog_dir=elog, out_suffix=f"_ladder_r{rep}",
        )
        r["loadavg_before"] = la
        r["task_cpu_sec"] = _task_cpu_seconds(elog)
        r["rep"] = rep
        print(
            f"[ladder] local[{cores}] rep {rep}: wall={r['wall_sec']}s "
            f"task_cpu={r['task_cpu_sec']}s", file=sys.stderr,
        )
        if cores not in best or r["wall_sec"] < best[cores]["wall_sec"]:
            best[cores] = r

    with open(args.json_out, "w") as f:
        json.dump({str(k): v for k, v in best.items()}, f, indent=1)

    # ---- markdown ----
    lines = [
        "",
        f"## Full scaling ladder (current code, one version — {args.label})",
        "",
        f"Same job/input as §3 above ({args.pages} pages, seed={args.seed}),",
        "spark-submit --py-files dist/kgforge.zip, identical configs except",
        f"parallelism. Headline pair ({sorted(headline)}) best-of-"
        f"{args.headline_repeats} alternating repeats; other rungs single",
        "runs in quiet windows (1-min loadavg recorded per rung).",
        "",
        "| cores | wall (s) | pages/s | extract | mentions | link | canon | materialize | task-CPU (core·s) | inflation vs c1 | loadavg |",
        "|---|---|---|---|---|---|---|---|---|---|---|",
    ]
    base_cpu = best[min(best)].get("task_cpu_sec") or 0
    for c in sorted(best):
        r = best[c]
        s = r["stages_sec"]
        infl = (
            round(r["task_cpu_sec"] / base_cpu, 2)
            if base_cpu and r.get("task_cpu_sec")
            else "?"
        )
        lines.append(
            f"| {c} | {r['wall_sec']} | {r['pages_per_sec']} | {s['extract']} | "
            f"{s['mentions']} | {s['link']} | {s['canonicalize']} | "
            f"{s['materialize']} | {r.get('task_cpu_sec', '?')} | {infl} | "
            f"{r.get('loadavg_before', '?')} |"
        )
    lines += ["", "Pairwise scaling efficiency E = (T_N / T_4N) / 4:", ""]
    lines.append("| pair | T_N (s) | T_4N (s) | speedup | E |")
    lines.append("|---|---|---|---|---|")
    for a, b in [(1, 4), (2, 8), (4, 16), (8, 32)]:
        if a in best and b in best:
            sp = best[a]["wall_sec"] / best[b]["wall_sec"]
            lines.append(
                f"| {a}→{b} | {best[a]['wall_sec']} | {best[b]['wall_sec']} | "
                f"{sp:.2f}× | **{sp / 4:.3f}** |"
            )
    lines.append("")
    md = args.md_out
    with open(md, "a") as f:
        f.write("\n".join(lines) + "\n")
    print(f"appended ladder → {md}")
    print(json.dumps({c: best[c]["wall_sec"] for c in sorted(best)}))


if __name__ == "__main__":
    main()
