#!/usr/bin/env python3
"""Alternating parent/change pairs of the repository benchmark.

    python3 tools/perfpairs.py --parent <ref> --change <ref> --workload star_etl \
        [--pairs 10] [--first-seed 1] [--seconds 6] [--trace 0]

Each side is a `git archive` copy of its ref under $TMPDIR, so both run
the benchmark code and settings committed at their own ref, and nothing is
written into this checkout. Both copies are built before the first timed
run. Pair i runs `perfbench/run.py` once per side with seed first-seed + i;
the side that runs first alternates from pair to pair, so drift in the
host's speed over the window biases neither side.

For each metric it prints each side's median and quartiles, the ratio of
the medians (change / parent), and how many pairs the change won, with the
direction taken from BENCHMARK.json (ties count for neither side). The same
table follows for each call's median wall (the run's `# call <name>: median`
line), so a `call_p50_s` change names the call that moved. Every run's
correct/failed counts are printed with its host canaries (single-thread,
multi-thread and IO rates before and after the run), so a run taken in a
slow host window shows up; the canaries' medians per side follow. The report
closes with one line that names every run that was not correct or had a
failed call (their numbers are still in the medians above), and the script
then exits 1 if there was any. The last line of standard output is one JSON
object with every run's metrics, call medians and canaries.

To measure uncommitted work, stage new files and pass
`--change "$(git stash create)"`: that names a commit of the working tree
without moving any ref.
"""
import argparse
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CALL_LINE = re.compile(r"# call (\S+): median ([0-9.]+) s over \d+$")
CANARY_LINE = re.compile(r"# canary before=(\{.*\}) after=(\{.*\})$")
CANARY_KEYS = ("single_mb_s", "multi_mb_s", "io_mb_s")


def log(msg):
    print(msg, flush=True)


def checkout(ref, dest):
    os.makedirs(dest)
    archive = subprocess.run(["git", "-C", REPO, "archive", ref],
                             check=True, capture_output=True).stdout
    subprocess.run(["tar", "-x", "-C", dest], input=archive, check=True)


def build(copy):
    """Compile the copy's engine and harness outside any timed run."""
    subprocess.run([sys.executable, "-c",
                    "import sys; sys.path.insert(0, 'perfbench'); import run; run.build()"],
                   cwd=copy, check=True, stdout=subprocess.DEVNULL)


def run_once(copy, a, seed):
    r = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", a.workload,
         "--seed", str(seed), "--seconds", str(a.seconds), "--trace", str(a.trace)],
        cwd=copy, capture_output=True, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-3000:] + r.stderr[-3000:])
        sys.exit(f"perfbench failed in {copy} (seed {seed})")
    lines = r.stdout.strip().splitlines()
    res = json.loads(lines[-1])
    res["calls"] = {m.group(1): float(m.group(2)) for m in
                    (CALL_LINE.match(ln) for ln in lines) if m}
    canary = next(ln for ln in lines if ln.startswith("# canary "))
    before, after = CANARY_LINE.match(canary).groups()
    res["canary"] = {"before": json.loads(before), "after": json.loads(after)}
    return res


def fmt_canary(c):
    return "/".join(f"{c[k]:.0f}" for k in CANARY_KEYS)


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    return tuple(statistics.quantiles(xs, n=4, method="inclusive"))


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--parent", required=True)
    p.add_argument("--change", required=True)
    p.add_argument("--workload", required=True)
    p.add_argument("--pairs", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=6)
    p.add_argument("--trace", type=int, default=0)
    a = p.parse_args()

    work = tempfile.mkdtemp(prefix="perfpairs-")
    try:
        copies = {side: os.path.join(work, side) for side in ("parent", "change")}
        for side, copy in copies.items():
            checkout(getattr(a, side), copy)
            build(copy)
        with open(os.path.join(copies["change"], "BENCHMARK.json")) as f:
            bench = json.load(f)
        better = {m["name"]: m["better"]
                  for m in bench["end_to_end"] + bench["per_layer"]}

        runs = {"parent": [], "change": []}
        for i in range(a.pairs):
            seed = a.first_seed + i
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            for side in order:
                res = run_once(copies[side], a, seed)
                res["seed"] = seed
                runs[side].append(res)
                log(f"# pair {i} seed {seed} {side}: correct={res['correct']} "
                    f"failed={res['failed']}/{res['attempted']} canary MB/s "
                    f"(single/multi/io) before {fmt_canary(res['canary']['before'])} "
                    f"after {fmt_canary(res['canary']['after'])}")

        log(f"# {a.workload}: parent={a.parent} change={a.change} pairs={a.pairs} "
            f"seeds={a.first_seed}..{a.first_seed + a.pairs - 1} "
            f"seconds={a.seconds} trace={a.trace}")
        log(f"# {'metric':36} {'parent median [q1, q3]':>32} "
            f"{'change median [q1, q3]':>32} {'ratio':>7} wins")

        def row(name, pv, cv, sign):
            wins = sum(sign * (c - q) > 0 for q, c in zip(pv, cv))
            pq, cq = quartiles(pv), quartiles(cv)
            ratio = cq[1] / pq[1] if pq[1] else float("nan")
            log(f"# {name:36} {pq[1]:>12.5g} [{pq[0]:.5g}, {pq[2]:.5g}] "
                f"{cq[1]:>12.5g} [{cq[0]:.5g}, {cq[2]:.5g}] {ratio:>7.3f} "
                f"{wins}/{a.pairs}")

        every = runs["parent"] + runs["change"]
        for n in [n for n in runs["parent"][0]["metrics"]
                  if all(n in r["metrics"] for r in every)]:
            row(n, [r["metrics"][n]["value"] for r in runs["parent"]],
                [r["metrics"][n]["value"] for r in runs["change"]],
                1 if better.get(n, "lower") == "higher" else -1)
        for n in [n for n in runs["parent"][0]["calls"]
                  if all(n in r["calls"] for r in every)]:
            row(f"call {n} median_s", [r["calls"][n] for r in runs["parent"]],
                [r["calls"][n] for r in runs["change"]], -1)
        for when in ("before", "after"):
            for k in CANARY_KEYS:
                row(f"canary {when} {k}",
                    [r["canary"][when][k] for r in runs["parent"]],
                    [r["canary"][when][k] for r in runs["change"]], 1)
        bad = [f"{side} seed {r['seed']} (correct={r['correct']}, "
               f"failed {r['failed']}/{r['attempted']})"
               for side in ("parent", "change") for r in runs[side]
               if not r["correct"] or r["failed"] > 0]
        log(f"# bad runs: {', '.join(bad)}" if bad else
            "# every run correct, 0 failed calls")
        print(json.dumps({"workload": a.workload, "parent": a.parent,
                          "change": a.change, "runs": runs}))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if bad:
        sys.exit(1)


if __name__ == "__main__":
    main()
