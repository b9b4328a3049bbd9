#!/usr/bin/env python3
"""Interleaved parent/change runs of one perfbench workload.

    python3 tools/ab.py --base <rev> --workload W --pairs N --seed0 S

Exports <rev> with `git archive` into a directory of its own (reused
across invocations, so its benchmark build is cached), then runs
`perfbench/run.py` alternately in that export ("base") and in this
checkout ("change"). Pair i runs both sides with seed S+i; which side
goes first flips every pair, so a drift of the host during the session
lands on both sides alike. Reads BENCHMARK.json (never writes it or
anything under perfbench/) and needs no network.

Each run lasts BENCHMARK.json's `run_seconds`. Every run is printed as one
JSON line on stderr; `2>>runs.jsonl` keeps the record.

`--pairs` must be even, so each side runs first in exactly half the
pairs: a slot bias (a host that runs whichever side comes second slower)
then weighs on both sides alike.

At the end it prints, per metric, each side's median and quartiles
(over the runs that finished and printed `correct: true`), each side's
median over the runs where it went first and over those where it went
second (a slot bias shows as a gap between the two on both sides), the
number of pairs the change won out of all pairs run, and whether the change
clears the gain rule: it wins at least 9 in 10 of all pairs run and its
median beats the base's by more than the base's inter-quartile
distance. Ties count for neither side; a run that crashed or was not
correct loses its pair (both bad: neither wins). The verdict is "no"
whenever the change fails more operations, or a larger share of them,
than the base.

Then, per end-to-end metric, it prints the change's median against the
base's and one label:
  REGRESSION  the change's median is worse than the base's by more than
              the metric's BENCHMARK.json `bound` times the base median;
  unresolved  otherwise, when the base's own inter-quartile distance is
              wider than that bound, unless every change run beats every
              base run;
  ok          otherwise.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def export(rev, workdir):
    sha = subprocess.run(["git", "-C", ROOT, "rev-parse", rev], check=True,
                         capture_output=True, text=True).stdout.strip()
    dest = os.path.join(workdir, f"base-{sha[:12]}")
    if not os.path.isfile(os.path.join(dest, "perfbench", "run.py")):
        os.makedirs(dest, exist_ok=True)
        archive = subprocess.Popen(["git", "-C", ROOT, "archive", sha], stdout=subprocess.PIPE)
        subprocess.run(["tar", "-x", "-C", dest], stdin=archive.stdout, check=True)
        if archive.wait() != 0:
            sys.exit(f"ab: git archive {rev} failed")
    return sha, dest


def run(checkout, a, seed, seconds):
    cmd = [sys.executable, os.path.join(checkout, "perfbench", "run.py"),
           "--workload", a.workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", a.trace]
    p = subprocess.run(cmd, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        return {"ok": False, "error": (p.stderr.strip().splitlines() or ["?"])[-1]}
    res = json.loads(lines[-1])
    return {"ok": True, "correct": res["correct"], "attempted": res["attempted"],
            "failed": res["failed"],
            "metrics": {k: v["value"] for k, v in res["metrics"].items()}}


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--base", required=True, help="git revision of the parent side")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed0", type=int, required=True)
    ap.add_argument("--trace", choices=("0", "1"), default="0")
    ap.add_argument("--workdir", help="where the base export lives (default: a temp dir)")
    a = ap.parse_args()
    if a.pairs < 2 or a.pairs % 2:
        sys.exit("ab: --pairs must be a positive even number, so each side runs first "
                 "in exactly half the pairs")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    better = {m["name"]: m["better"]
              for m in spec["per_layer" if a.trace == "1" else "end_to_end"]}
    sha, base = export(a.base, a.workdir or tempfile.mkdtemp(prefix="ab-"))
    sides = {"base": base, "change": ROOT}
    runs = {"base": [], "change": []}
    for i in range(a.pairs):
        seed = a.seed0 + i
        order = ("base", "change") if i % 2 == 0 else ("change", "base")
        for side in order:
            r = run(sides[side], a, seed, spec["run_seconds"])
            r.update(side=side, seed=seed, pair=i, first=order[0], workload=a.workload,
                     rev=sha if side == "base" else "working tree")
            runs[side].append(r)
            print(json.dumps(r), file=sys.stderr, flush=True)

    good = {s: [r for r in runs[s] if r["ok"] and r["correct"]] for s in runs}
    failed, share = {}, {}
    for s in ("base", "change"):
        done = [r for r in runs[s] if r["ok"]]
        attempted = sum(r["attempted"] for r in done)
        failed[s] = sum(r["failed"] for r in done)
        share[s] = failed[s] / attempted if attempted else 1.0
        print(f"{s:6} {len(done)}/{a.pairs} runs ok, {len(done) - len(good[s])} incorrect, "
              f"failed ops {failed[s]}/{attempted}")
    more_failed = failed["change"] > failed["base"] or share["change"] > share["base"]
    print(f"{'metric':40} {'base q1/med/q3':>30} {'change q1/med/q3':>30} "
          f"{'base 1st/2nd':>19} {'change 1st/2nd':>19}  wins  gain")
    for name, direction in better.items():
        b = [r["metrics"][name] for r in good["base"] if name in r["metrics"]]
        c = [r["metrics"][name] for r in good["change"] if name in r["metrics"]]
        if not b or not c:
            continue
        sign = 1 if direction == "lower" else -1

        def value(r):
            return r["metrics"].get(name) if r["ok"] and r["correct"] else None

        def change_wins(pb, pc):
            vb, vc = value(pb), value(pc)
            if vc is None:
                return False
            return vb is None or sign * (vb - vc) > 0
        wins = sum(change_wins(pb, pc) for pb, pc in zip(runs["base"], runs["change"]))
        bq, cq = quartiles(b), quartiles(c)
        gain = (wins >= 0.9 * a.pairs and sign * (bq[1] - cq[1]) > bq[2] - bq[0]
                and not more_failed)
        fmt = lambda q: "/".join(f"{x:.4g}" for x in q)
        print(f"{name:40} {fmt(bq):>30} {fmt(cq):>30} {slots(good['base'], name):>19} "
              f"{slots(good['change'], name):>19}  {wins:>2}/{a.pairs:<2} "
              f"{'yes' if gain else 'no'}")

    print(f"{'end-to-end metric':40} {'base med':>12} {'change med':>12} {'bound':>7}  label")
    for m in spec["end_to_end"]:
        name, bound = m["name"], m["bound"]
        b = [r["metrics"][name] for r in good["base"] if name in r["metrics"]]
        c = [r["metrics"][name] for r in good["change"] if name in r["metrics"]]
        if not b or not c:
            continue
        print(f"{name:40} {quartiles(b)[1]:>12.4g} {quartiles(c)[1]:>12.4g} {bound:>7}  "
              f"{regression_label(b, c, bound, m['better'])}")


def slots(rs, name):
    """'<median when first>/<median when second>' of metric `name` over
    one side's good runs `rs` ('-' for a slot with no run)."""
    def med(first):
        xs = [r["metrics"][name] for r in rs
              if name in r["metrics"] and (r["first"] == r["side"]) == first]
        return f"{statistics.median(xs):.4g}" if xs else "-"
    return f"{med(True)}/{med(False)}"


def regression_label(b, c, bound, better):
    """REGRESSION / unresolved / ok for one end-to-end metric (see the
    module doc): `b` and `c` are the base's and the change's runs."""
    sign = 1 if better == "lower" else -1
    bq, cq = quartiles(b), quartiles(c)
    limit = bound * abs(bq[1])
    if sign * (cq[1] - bq[1]) > limit:
        return "REGRESSION"
    if bq[2] - bq[0] > limit and not all(sign * (x - y) < 0 for x in c for y in b):
        return "unresolved"
    return "ok"


if __name__ == "__main__":
    main()
