#!/usr/bin/env python3
"""A/B a change against its parent with perfbench, in alternating pairs.

Runs one workload once per seed in each of two checkouts. The parent runs
first on odd pairs and the change first on even ones, so a drift of the host
during the session falls on both sides alike. Each run's last stdout line
(perfbench's JSON result) is appended to a log, one JSON object per line,
with the path of the run's record and its host CPU steal, both taken from
perfbench's `[perfbench] record ...` stderr line. Then, for each end-to-end
metric of BENCHMARK.json, it prints the median and quartiles of each side
and the number of pairs the change won, and flags a median that moved by
more than the parent's quartile spread. It also prints each side's median
steal, where the records hold `ops_ms` (log_store) each operation kind's
median per side (a run's median of that kind, then the median over runs)
with the pairs in which the change's run median of the kind was lower,
and, where they hold per-query `cold_ms`/`warm_ms` (registry_queries), each
query's cold and warm median per side.

    python3 tools/ab_pairs.py PARENT_DIR CHANGE_DIR --workload log_store \\
        --seeds 1-10 --log ab_log_store.jsonl
    python3 tools/ab_pairs.py --summarize ab_log_store.jsonl

PARENT_DIR and CHANGE_DIR are full checkouts (e.g. `git archive <parent> |
tar -x -C DIR`). The command and `run_seconds` come from CHANGE_DIR's
BENCHMARK.json. The script only reads perfbench's output.
"""
import argparse
import json
import os
import re
import statistics
import subprocess
import sys
import time


def parse_seeds(text):
    seeds = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        seeds += range(int(lo), int(hi or lo) + 1)
    return seeds


def quartiles(values):
    if len(values) < 2:
        v = values[0]
        return v, v, v
    q1, med, q3 = statistics.quantiles(values, n=4)
    return q1, statistics.median(values), q3


RECORD_LINE = re.compile(r"\[perfbench\] record (.+?): .*?steal ([0-9.]+) s")


def run_once(checkout, spec, workload, seed, trace):
    cmd = spec["command"] + ["--workload", workload, "--seed", str(seed),
                             "--seconds", str(spec["run_seconds"]), "--trace", str(trace)]
    t0 = time.time()
    proc = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE,
                          stderr=subprocess.PIPE, text=True)
    lines = proc.stdout.strip().splitlines()
    rec = RECORD_LINE.search(proc.stderr)
    return {"wall_s": round(time.time() - t0, 1), "exit": proc.returncode,
            "line": lines[-1] if lines else "",
            "record": os.path.join(checkout, rec.group(1)) if rec else None,
            "steal_s": float(rec.group(2)) if rec else None}


def run_pairs(a, spec):
    sides = {"parent": os.path.abspath(a.parent), "change": os.path.abspath(a.change)}
    with open(a.log, "a") as log:
        for i, seed in enumerate(parse_seeds(a.seeds), start=1):
            order = ["parent", "change"] if i % 2 else ["change", "parent"]
            for side in order:
                r = run_once(sides[side], spec, a.workload, seed, a.trace)
                r.update(pair=i, seed=seed, side=side, first=order[0] == side,
                         workload=a.workload)
                log.write(json.dumps(r) + "\n")
                log.flush()
                print(f"pair {i} seed {seed} {side}: exit {r['exit']}, {r['wall_s']} s",
                      file=sys.stderr)


def median_or_none(values):
    return statistics.median(values) if values else None


def load_record(run):
    """The run's perfbench record, or {} when the log names none."""
    path = run.get("record")
    if not path or not os.path.exists(path):
        return {}
    with open(path) as fh:
        return json.load(fh)


def per_query_ms(rec):
    """{query: (cold ms, warm ms)} from a record, warm being the median of
    its warm calls; empty when the record has no such fields."""
    cold, warm = rec.get("cold_ms") or {}, rec.get("warm_ms") or {}
    return {q: (cold[q], statistics.median(warm[q]) if warm.get(q) else None)
            for q in cold}


def per_kind_ms(rec):
    """{operation kind: median ms} from a record's `ops_ms` (log_store);
    empty when the record has none."""
    return {k: statistics.median(ms) for k, ms in (rec.get("ops_ms") or {}).items() if ms}


def print_side_detail(runs, workload, seeds):
    fmt = lambda v: "-" if v is None else f"{v:.4g}"
    side_runs = {side: [r for r in (runs.get((workload, s, side)) for s in seeds) if r]
                 for side in ("parent", "change")}
    steal = {side: median_or_none([r["steal_s"] for r in rs if r.get("steal_s") is not None])
             for side, rs in side_runs.items()}
    print(f"median steal s: parent {fmt(steal['parent'])}, change {fmt(steal['change'])}")
    records = {side: {r["seed"]: load_record(r) for r in rs} for side, rs in side_runs.items()}
    per_kind = {side: {seed: per_kind_ms(rec) for seed, rec in recs.items()}
                for side, recs in records.items()}
    kinds = sorted({k for ks in per_kind.values() for ms in ks.values() for k in ms})
    if kinds:
        print(f"{'op kind (median ms)':<24} {'parent':>12} {'change':>12} {'won':>6}")
        for k in kinds:
            cells = [fmt(median_or_none([ms[k] for ms in per_kind[side].values() if k in ms]))
                     for side in ("parent", "change")]
            # a pair is one seed whose two runs both timed the kind
            pairs = [(p[k], per_kind["change"][seed][k])
                     for seed, p in per_kind["parent"].items()
                     if k in p and k in per_kind["change"].get(seed, {})]
            won = f"{sum(c < p for p, c in pairs)}/{len(pairs)}" if pairs else "-"
            print(f"{k:<24} " + " ".join(f"{c:>12}" for c in cells) + f" {won:>6}")
    per_query = {side: [per_query_ms(rec) for rec in recs.values()]
                 for side, recs in records.items()}
    names = sorted({q for qs in per_query.values() for ms in qs for q in ms})
    if not names:
        return
    print(f"{'query (median ms)':<24} {'parent cold':>12} {'change cold':>12} "
          f"{'parent warm':>12} {'change warm':>12}")
    for q in names:
        cells = []
        for i in (0, 1):
            for side in ("parent", "change"):
                vals = [ms[q][i] for ms in per_query[side] if q in ms and ms[q][i] is not None]
                cells.append(fmt(median_or_none(vals)))
        print(f"{q:<24} " + " ".join(f"{c:>12}" for c in cells))


def summarize(log_path, spec):
    runs = {}
    with open(log_path) as fh:
        for line in fh:
            r = json.loads(line)
            try:
                r["result"] = json.loads(r["line"])
            except ValueError:
                r["result"] = None
            runs[(r["workload"], r["seed"], r["side"])] = r
    for workload in sorted({k[0] for k in runs}):
        seeds = sorted({k[1] for k in runs if k[0] == workload})
        print(f"== {workload}: {len(seeds)} seeds ==")
        for side in ("parent", "change"):
            rs = [runs.get((workload, s, side)) for s in seeds]
            ok = [r for r in rs if r and r["result"] and r["result"]["correct"]]
            failed = sum(r["result"]["failed"] for r in rs if r and r["result"])
            print(f"{side}: {len(ok)}/{len(seeds)} runs correct, {failed} failed ops")
        print(f"{'metric':<16} {'parent median [q1, q3]':>30} "
              f"{'change median [q1, q3]':>30} {'won':>6}  note")
        for m in spec["end_to_end"]:
            name, lower = m["name"], m["better"] == "lower"
            pairs = []
            for s in seeds:
                p, c = runs.get((workload, s, "parent")), runs.get((workload, s, "change"))
                if p and c and p["result"] and c["result"] and \
                        name in p["result"]["metrics"] and name in c["result"]["metrics"]:
                    pairs.append((p["result"]["metrics"][name]["value"],
                                  c["result"]["metrics"][name]["value"]))
            if not pairs:
                continue
            pq = quartiles([p for p, _ in pairs])
            cq = quartiles([c for _, c in pairs])
            won = sum((c < p) if lower else (c > p) for p, c in pairs)
            delta = cq[1] - pq[1]
            note = "beyond parent IQR" if abs(delta) > pq[2] - pq[0] else ""
            if abs(delta) > m.get("bound", float("inf")) * abs(pq[1]) and \
                    (delta > 0) == lower:
                note = "WORSE THAN BOUND"
            fmt = lambda q: f"{q[1]:.4g} [{q[0]:.4g}, {q[2]:.4g}]"
            print(f"{name:<16} {fmt(pq):>30} {fmt(cq):>30} {won:>3}/{len(pairs):<2}  {note}")
        print_side_detail(runs, workload, seeds)


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("parent", nargs="?")
    p.add_argument("change", nargs="?")
    p.add_argument("--workload")
    p.add_argument("--seeds", default="1-10", help="e.g. 1-10 or 1,3,5-7")
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--log", default="ab_pairs.jsonl",
                   help="JSON-lines log the runs are appended to")
    p.add_argument("--summarize", metavar="LOG",
                   help="print the summary of an existing log and run nothing")
    a = p.parse_args()
    if a.summarize:
        here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        with open(os.path.join(here, "BENCHMARK.json")) as fh:
            summarize(a.summarize, json.load(fh))
        return 0
    if not (a.parent and a.change and a.workload):
        p.error("PARENT_DIR, CHANGE_DIR and --workload are required")
    with open(os.path.join(a.change, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    run_pairs(a, spec)
    summarize(a.log, spec)
    return 0


if __name__ == "__main__":
    sys.exit(main())
