"""A/B perfbench: alternate runs of two checkouts and compare their metrics.

    python3 tools/ab_perfbench.py BASE_DIR CHANGE_DIR [--pairs 10] \
        [--workload late_corrections,read_mix] [--seed 1] [--seconds 12] \
        [--trace 0] [--scale 1] [--out runs.jsonl]
    python3 tools/ab_perfbench.py --report runs.jsonl

Each pair runs ``perfbench/run.py`` once in each checkout, one run at a
time; the base goes first in odd pairs and the change in even ones, so
drift over the runs does not favour one side. Neither checkout is
edited (perfbench itself keeps its scratch under ``.perfbench_run/``
there while it runs). The report prints each side's mean wall per run
and, for every metric, each side's median and quartiles, the pairs each
side won, the relative change of the median and, where BENCHMARK.json
(read from CHANGE_DIR) gives one, the check against its bound. A gain counts as shown when the change
wins at least 9 of every 10 pairs and its median beats the base's by
more than the base's interquartile range. Standard library only.

``--scale K`` runs perfbench's own lifecycle at K times its turns: it
imports ``perfbench/lifecycle.py``, multiplies ``N_TURNS`` by K and
re-derives ``ROWS_PER_FILE`` (16 files per micro-batch) before calling
``run.main``, so phases, seeds, checks and work units stay as they are
and nothing under ``perfbench/`` changes. Scaled numbers explain a
change or warn of a regression at a size where pruning and locality
show; gains are claimed on the unscaled ``BENCHMARK.json`` metrics only.
One scaled run at K=10 takes about 2.5 minutes on 4 cores.

Run-to-run spread at ``--scale 10``: five untraced ``--workload all
--seed 1`` runs of one checkout (commit ec417f2) in a row, on a 4-core,
15 GB host at ``local[4]``, 122-133 s each. Median, interquartile range
over the median, and the range of the five:

    setup_s                12.48 s          6.5%   10.96-13.36
    ingest_turns_per_s     56,040 turns/s   2.2%   47,690-57,560
    maintain_turns_per_s   54,320 turns/s   7.0%   48,340-58,220
    merge_s.p50            2.18 s           6.6%   2.01-2.43
    lookup_ms.p50          396 ms           2.5%   378-418
    lookup_ms.tail         438 ms           7.2%   414-485
    timetravel_ms.p50      402 ms           8.4%   390-473
    export_s.p50           7.50 s           3.9%   6.94-7.60
    write_amp              1.880            0.0%   1.880-1.880
    stored_bytes_per_turn  29.88 B/turn     0.0%   29.88-29.89
    peak_rss_mb            4,467 MB         0.7%   4,450-4,542

So a single 10x pair cannot tell a timing change under about 10% from
noise; byte and amplification metrics repeat exactly.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time


# perfbench's run.py with its lifecycle scaled K times from outside
_SCALED = """import os, sys
sys.path.insert(0, os.path.abspath("perfbench"))
import lifecycle
lifecycle.N_TURNS *= {scale}
lifecycle.ROWS_PER_FILE = lifecycle.N_TURNS // lifecycle.N_BATCHES // 16
import run
sys.exit(run.main(sys.argv[1:]))
"""


def run_once(checkout: str, workload: str, seed: int, seconds: int, trace: int,
             scale: int = 1) -> dict:
    """One perfbench run in ``checkout``; its final JSON line."""
    args = ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace)]
    if scale == 1:
        cmd = [sys.executable, "perfbench/run.py", *args]
    else:
        cmd = [sys.executable, "-c", _SCALED.format(scale=scale), *args]
    out = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE,
                         stderr=subprocess.DEVNULL, text=True, check=False).stdout
    try:
        return json.loads(out.strip().splitlines()[-1])
    except (IndexError, json.JSONDecodeError):
        return {"correct": False, "attempted": 0, "failed": 0, "metrics": {},
                "error": out[-2000:]}


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def metric_specs(checkout: str) -> dict[str, dict]:
    """name -> {"better": ..., "bound": ...} from the checkout's BENCHMARK.json."""
    path = os.path.join(checkout, "BENCHMARK.json")
    if not os.path.exists(path):
        return {}
    with open(path) as f:
        bench = json.load(f)
    return {m["name"]: m for m in bench.get("end_to_end", []) + bench.get("per_layer", [])}


def report(records: list[dict], specs: dict[str, dict]) -> None:
    by_key: dict[tuple, dict[str, dict[int, dict]]] = {}
    walls: dict[tuple, list[float]] = {}
    for r in records:
        if "wall_s" in r:
            walls.setdefault((r["workload"], r["seed"], r["trace"], r.get("scale", 1),
                              r["side"]), []).append(r["wall_s"])
        by_key.setdefault((r["workload"], r["seed"], r["trace"], r.get("scale", 1)), {}) \
            .setdefault(r["side"], {})[r["pair"]] = r["result"]
    for (workload, seed, trace, scale), sides in sorted(by_key.items()):
        base, chg = sides.get("base", {}), sides.get("change", {})
        pairs = sorted(set(base) & set(chg))
        print(f"== {workload} seed={seed} trace={trace} scale={scale}: {len(pairs)} pairs")
        for side, runs in (("base", base), ("change", chg)):
            errs = [f"{runs[p]['failed']}/{runs[p]['attempted']}" for p in pairs]
            wall = walls.get((workload, seed, trace, scale, side))
            mean_wall = f"  mean wall {statistics.mean(wall):.1f} s" if wall else ""
            print(f"   {side:6s} failed/attempted per run: {' '.join(errs)}{mean_wall}")
        names = sorted({n for p in pairs for n in base[p]["metrics"]}
                       & {n for p in pairs for n in chg[p]["metrics"]})
        for name in names:
            b = [base[p]["metrics"][name]["value"] for p in pairs if name in base[p]["metrics"]]
            c = [chg[p]["metrics"][name]["value"] for p in pairs if name in chg[p]["metrics"]]
            if len(b) != len(pairs) or len(c) != len(pairs):
                continue
            spec = specs.get(name, {})
            lower = spec.get("better", "lower") == "lower"
            bq, cq = quartiles(b), quartiles(c)
            wins_c = sum((y < x) if lower else (y > x) for x, y in zip(b, c))
            wins_b = sum((x < y) if lower else (x > y) for x, y in zip(b, c))
            rel = (cq[1] - bq[1]) / bq[1] if bq[1] else 0.0
            worse = rel if lower else -rel
            line = (f"   {name:42s} base {bq[1]:.4g} [{bq[0]:.4g}, {bq[2]:.4g}]  "
                    f"change {cq[1]:.4g} [{cq[0]:.4g}, {cq[2]:.4g}]  "
                    f"wins base/change {wins_b}/{wins_c}  median {rel:+.1%}")
            if "bound" in spec:
                line += "  bound " + ("FAIL" if worse > spec["bound"] else "ok") \
                    + f" ({spec['bound']:.0%})"
            gain = (wins_c * 10 >= 9 * len(pairs)
                    and (bq[1] - cq[1] if lower else cq[1] - bq[1]) > bq[2] - bq[0])
            if gain:
                line += "  GAIN"
            print(line)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("base", nargs="?")
    ap.add_argument("change", nargs="?")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--workload",
                    help="comma-separated perfbench workloads (default: "
                         "every workload in CHANGE_DIR's BENCHMARK.json)")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=int, default=1,
                    help="run perfbench's lifecycle at this many times its turns")
    ap.add_argument("--out", help="append every run's record to this JSON-lines file")
    ap.add_argument("--report", help="only print the report for a JSON-lines file")
    args = ap.parse_args(argv)

    if args.report:
        with open(args.report) as f:
            records = [json.loads(line) for line in f if line.strip()]
        report(records, metric_specs(args.change or os.getcwd()))
        return 0
    if not (args.base and args.change):
        ap.error("BASE_DIR and CHANGE_DIR are required unless --report is given")
    dirs = {"base": os.path.abspath(args.base), "change": os.path.abspath(args.change)}
    for d in dirs.values():
        if not os.path.exists(os.path.join(d, "perfbench", "run.py")):
            ap.error(f"{d} has no perfbench/run.py")
    specs = metric_specs(dirs["change"])
    if args.workload:
        workloads = args.workload.split(",")
    else:
        with open(os.path.join(dirs["change"], "BENCHMARK.json")) as f:
            workloads = [w["name"] for w in json.load(f)["workloads"]]
    records = []
    for pair in range(1, args.pairs + 1):
        order = ("base", "change") if pair % 2 else ("change", "base")
        for workload in workloads:
            for side in order:
                t0 = time.perf_counter()
                result = run_once(dirs[side], workload, args.seed, args.seconds, args.trace,
                                  args.scale)
                rec = {"pair": pair, "side": side, "workload": workload,
                       "seed": args.seed, "trace": args.trace, "scale": args.scale,
                       "wall_s": round(time.perf_counter() - t0, 1), "result": result}
                records.append(rec)
                if args.out:
                    with open(args.out, "a") as f:
                        f.write(json.dumps(rec) + "\n")
                print(f"pair {pair} {workload} {side}: failed {result['failed']} "
                      f"of {result['attempted']}", flush=True)
    report(records, specs)
    return 0


if __name__ == "__main__":
    sys.exit(main())
