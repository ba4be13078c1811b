#!/usr/bin/env python3
"""Alternating A/B of the repo's benchmark: a parent ref against the working tree.

    python3 scripts/perfbench_ab.py --parent <ref> --workload <name> \\
        --seeds 961-968,1001 --pairs 10 [--seconds 12] [--trace 0] \\
        [--scratch DIR] [--json FILE] [--claim METRIC]

Exports `git archive <ref>` into `<scratch>/<sha8>` (reused on later calls
for the same commit; keep the scratch path short, since sbt puts a Unix
socket under the checkout), then runs `perfbench/run.py` in both checkouts as
alternating pairs: pair i runs seed `seeds[i % len(seeds)]`, and the side
that goes first alternates, so drift on the host spreads over both sides.
Each checkout builds its own `perfbench/target` on its first run.

Prints one row per metric: q1 / median / q3 for the parent and the change,
the ratio of medians (change / parent), and in how many pairs the change was
better (the direction comes from BENCHMARK.json; ties count as no win). Ends
with the correct / failed / attempted totals of each side, and per side how
many runs timed each number of ops of a kind (from each run's record, named
on its `[perfbench] run record:` stderr line): a `hybrid_index` run that
starts a second block times 6 serves instead of 3, and its warm serves pull
`read_p50_ms` down, so a gap from block count shows next to the table. With
`--json`, every run's result line is saved as well, with its record path.

With `--claim <metric>`, an acceptance verdict follows the table:
  - the claimed metric is met when the change wins at least 90% of ALL pairs
    run (9 of 10; a pair missing a result on either side counts as no win)
    AND its median beats the parent's by more than the parent's IQR
    (q3 - q1);
  - every other end-to-end metric of BENCHMARK.json is within bound when the
    change's median is no worse than the parent's by more than the metric's
    `bound` (a fraction of the parent's median); it is unresolved when the
    parent's IQR, as a share of its median, is wider than the bound, unless
    every change run reads better than every parent run;
  - every change run must have a result and be `correct: true`;
  - the change's failed/attempted share must be no higher than the parent's.
Any unmet, unresolved or unknown line makes the verdict REJECT.

Compare only runs taken on the same box with nothing else running: a
concurrent build or test JVM distorts every number.
"""
import argparse
import collections
import json
import os
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def parse_seeds(text):
    seeds = []
    for part in text.split(","):
        lo, _, hi = part.strip().partition("-")
        seeds += range(int(lo), int(hi) + 1) if hi else [int(lo)]
    if not seeds:
        sys.exit("--seeds names no seed")
    return seeds


def export_parent(ref, scratch):
    sha = subprocess.run(["git", "rev-parse", "--verify", f"{ref}^{{commit}}"], cwd=ROOT,
                         capture_output=True, text=True, check=True).stdout.strip()
    # short: sbt's server socket lives under the checkout, and a Unix
    # socket path may not exceed 108 bytes
    dest = os.path.join(scratch, sha[:8])
    if not os.path.isdir(dest):
        tmp = dest + ".partial"
        os.makedirs(tmp, exist_ok=True)
        archive = subprocess.Popen(["git", "archive", sha], cwd=ROOT, stdout=subprocess.PIPE)
        subprocess.run(["tar", "-x", "-C", tmp], stdin=archive.stdout, check=True)
        if archive.wait() != 0:
            sys.exit(f"git archive {sha} failed")
        os.rename(tmp, dest)
    return sha, dest


def run_once(checkout, a, seed):
    cmd = [sys.executable, "perfbench/run.py", "--workload", a.workload, "--seed", str(seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace)]
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    try:
        if p.returncode != 0 or not lines:
            raise ValueError(f"exit {p.returncode}")
        result = json.loads(lines[-1])
        mark = "[perfbench] run record: "
        for line in p.stderr.splitlines():
            if line.startswith(mark):
                result["record"] = os.path.join(checkout, line[len(mark):].strip())
        return result
    except ValueError as e:
        tail = "\n".join(p.stderr.strip().splitlines()[-5:])
        print(f"[ab] {checkout} seed {seed}: no result ({e})\n{tail}", file=sys.stderr)
        return None


def benchmark():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def directions(bench):
    return {m["name"]: m["better"] for m in bench.get("end_to_end", []) + bench.get("per_layer", [])}


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def fmt(x):
    return f"{x:.4g}"


def value(result, k):
    """A metric's number: result lines carry `{"value": v, "unit": u}`."""
    m = result["metrics"].get(k)
    v = m.get("value") if isinstance(m, dict) else m
    return v if isinstance(v, (int, float)) else None


def compare(pairs, k, better):
    """(parent quartiles, change quartiles, change wins, pairs) of metric k."""
    both = [(value(p, k), value(c, k)) for p, c in pairs if p and c]
    both = [(x, y) for x, y in both if x is not None and y is not None]
    if not both:
        return None
    sign = -1 if better.get(k, "lower") == "lower" else 1
    wins = sum(1 for x, y in both if sign * (y - x) > 0)
    return quartiles([x for x, _ in both]), quartiles([y for _, y in both]), wins, len(both)


def better_everywhere(pairs, k, better):
    """Whether every change run of metric k reads better than every parent run."""
    ps = [value(p, k) for p, _ in pairs if p]
    cs = [value(c, k) for _, c in pairs if c]
    if not ps or not cs or None in ps or None in cs:
        return False
    return max(cs) < min(ps) if better == "lower" else min(cs) > max(ps)


def failed_share(runs):
    ok = [r for r in runs if r]
    failed, attempted = sum(r["failed"] for r in ok), sum(r["attempted"] for r in ok)
    return failed, attempted


def op_counts(result):
    """{op kind: how many the run timed}, from the run record; None without one."""
    try:
        with open(result["record"]) as f:
            ops = json.load(f)["ops"]
    except (KeyError, TypeError, OSError, ValueError):
        return None
    return collections.Counter(o["kind"] for o in ops)


def op_mix(runs):
    """Per op kind, how many runs timed each count of it: `serve 3x7 6x3`."""
    counts = [c for c in map(op_counts, filter(None, runs)) if c is not None]
    kinds = sorted({k for c in counts for k in c})
    return "; ".join(
        k + " " + " ".join(f"{n}x{n_runs}" for n, n_runs in
                           sorted(collections.Counter(c[k] for c in counts).items()))
        for k in kinds) or "no run records"


def report(pairs, better):
    names = sorted({k for p, c in pairs if p and c for k in set(p["metrics"]) & set(c["metrics"])},
                   key=lambda k: (k not in better, k))
    print("| metric | parent q1 / median / q3 | change q1 / median / q3 | ratio | change wins |")
    print("|---|---|---|---|---|")
    for k in names:
        got = compare(pairs, k, better)
        if not got:
            continue
        pq, cq, wins, n = got
        ratio = cq[1] / pq[1] if pq[1] else float("nan")
        print(f"| `{k}` | {' / '.join(map(fmt, pq))} | {' / '.join(map(fmt, cq))} "
              f"| {ratio:.3f} | {wins}/{n} |")
    for side, idx in (("parent", 0), ("change", 1)):
        runs = [pr[idx] for pr in pairs]
        ok = [r for r in runs if r]
        failed, attempted = failed_share(runs)
        print(f"{side}: {sum(1 for r in ok if r['correct'])}/{len(runs)} runs correct, "
              f"{len(runs) - len(ok)} without a result, failed/attempted {failed}/{attempted}")
    for side, idx in (("parent", 0), ("change", 1)):
        print(f"{side} ops per run (count x runs): {op_mix([pr[idx] for pr in pairs])}")


def verdict(pairs, claim, bench):
    """Prints the acceptance verdict of the claimed metric and the bounds."""
    better = directions(bench)
    ok = True
    print(f"\nverdict (claim: `{claim}`):")
    got = compare(pairs, claim, better)
    if not got:
        print(f"- `{claim}`: no pair has it on both sides: NOT MET")
        ok = False
    else:
        pq, cq, wins, _ = got
        sign = -1 if better.get(claim, "lower") == "lower" else 1
        gap, iqr = sign * (cq[1] - pq[1]), pq[2] - pq[0]
        # over every pair run: a pair without both results is no win
        won = wins >= 0.9 * len(pairs)
        apart = gap > iqr
        print(f"- `{claim}` wins {wins}/{len(pairs)} pairs (need >= 90%): "
              f"{'yes' if won else 'NO'}")
        print(f"- `{claim}` median gap in its better direction {fmt(gap)} vs parent IQR "
              f"{fmt(iqr)}: {'exceeds' if apart else 'DOES NOT exceed'}")
        ok = ok and won and apart
    for m in bench.get("end_to_end", []):
        k, bound = m["name"], m["bound"]
        if k == claim:
            continue
        got = compare(pairs, k, better)
        if not got:
            print(f"- `{k}`: no pair has it on both sides: UNKNOWN")
            ok = False
            continue
        pq, cq, _, _ = got
        # worse = the change's median moved the wrong way, as a share of
        # the parent's median
        worse = (cq[1] - pq[1] if m["better"] == "lower" else pq[1] - cq[1]) / pq[1] \
            if pq[1] else float("inf")
        spread = (pq[2] - pq[0]) / pq[1] if pq[1] else float("inf")
        if spread > bound and not better_everywhere(pairs, k, m["better"]):
            state = f"UNRESOLVED (parent IQR {100 * spread:.1f}% of its median > bound)"
            within = False
        else:
            within = worse <= bound
            state = "within" if within else "OUT OF BOUND"
        print(f"- `{k}` change median {fmt(cq[1])} vs parent {fmt(pq[1])}: "
              f"{100 * abs(worse):.1f}% {'worse' if worse > 0 else 'better'} "
              f"(bound {100 * bound:.0f}% worse): {state}")
        ok = ok and within
    changes = [c for _, c in pairs]
    missing = sum(1 for c in changes if not c)
    wrong = sum(1 for c in changes if c and not c.get("correct"))
    print(f"- change runs without a result {missing}, not correct {wrong}: "
          f"{'none' if missing + wrong == 0 else 'SOME'}")
    ok = ok and missing + wrong == 0
    (pf, pa), (cf, ca) = (failed_share([pr[i] for pr in pairs]) for i in (0, 1))
    share = lambda f, a: f / a if a else 0.0
    no_more = share(cf, ca) <= share(pf, pa)
    print(f"- failed/attempted {cf}/{ca} vs parent {pf}/{pa}: "
          f"{'no higher' if no_more else 'HIGHER'}")
    ok = ok and no_more
    print(f"=> {'ACCEPT' if ok else 'REJECT'}")


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--parent", required=True, help="git ref of the parent side")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, type=parse_seeds, help="e.g. 961-968,1001")
    ap.add_argument("--pairs", required=True, type=int)
    ap.add_argument("--seconds", type=int, default=12)
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    ap.add_argument("--scratch", default=os.path.join(tempfile.gettempdir(), "perfbench-ab"))
    ap.add_argument("--json", help="also write every run's result line here")
    ap.add_argument("--claim", help="end-to-end metric the change claims to improve; "
                    "prints the acceptance verdict")
    a = ap.parse_args()
    bench = benchmark()
    if a.claim and a.claim not in {m["name"] for m in bench.get("end_to_end", [])}:
        sys.exit(f"--claim {a.claim}: not an end-to-end metric of BENCHMARK.json")
    if a.pairs < 1:
        sys.exit("--pairs must be at least 1")
    sha, parent = export_parent(a.parent, a.scratch)
    print(f"[ab] parent {sha[:12]} in {parent}; change = working tree {ROOT}", file=sys.stderr)
    pairs, log = [], []
    for i in range(a.pairs):
        seed = a.seeds[i % len(a.seeds)]
        order = [("parent", parent), ("change", ROOT)]
        if i % 2:
            order.reverse()
        got = {}
        for side, checkout in order:
            got[side] = run_once(checkout, a, seed)
            log.append({"pair": i, "seed": seed, "side": side, "result": got[side]})
            r = got[side]
            print(f"[ab] pair {i + 1}/{a.pairs} seed {seed} {side}: "
                  + (json.dumps({k: value(r, k) for k in ("read_p50_ms", "ops_per_s")}) if r else "-"),
                  file=sys.stderr)
        pairs.append((got["parent"], got["change"]))
        if a.json:
            with open(a.json, "w") as f:
                json.dump({"parent": sha, "workload": a.workload, "seconds": a.seconds,
                           "trace": a.trace, "runs": log}, f, indent=1)
    report(pairs, directions(bench))
    if a.claim:
        verdict(pairs, a.claim, bench)


if __name__ == "__main__":
    main()
