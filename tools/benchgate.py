#!/usr/bin/env python3
"""Bench regression GATE (round-4 verdict #7): run graft.Bench and exit
nonzero if any query regressed beyond the threshold vs the committed
baseline — the verify loop's perf counterpart to check.py.

Usage:
  python3 tools/benchgate.py                      # run Bench, gate vs newest baseline
  python3 tools/benchgate.py --json FILE          # gate an existing bench JSON instead
  python3 tools/benchgate.py --baseline tools/bench_local_r04.json --pct 50
  python3 tools/benchgate.py --sf /root/testdata/sf0.1 --passes 2

Default threshold is 50% (>1.5x) AND >0.15s absolute, applied AFTER
host normalization (round-7 verdict #3): new-run times are divided by
the median per-query new/old ratio (benchdiff.host_factor), so a
uniformly hot or cool host shifts nothing while a single structural
1.5x regression still trips. --no-normalize restores raw gating.
Queries missing from the baseline are reported as added, never failed.
A run in which any face threw (a negative time, or a nonzero `n_failed`
in the bench line) fails the gate: the thrown face is otherwise left
out of both the comparison and `total_s`.
"""
import glob, json, os, subprocess, sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import benchdiff

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def newest_baseline():
    cands = sorted(glob.glob(os.path.join(REPO, "tools", "bench_local_*.json")))
    if not cands:
        sys.exit("no tools/bench_local_*.json baseline found")
    return cands[-1]


def run_bench(sf, passes):
    env = dict(os.environ,
               SPARK_GRAFT_SF_DIR=sf,
               SPARK_GRAFT_CPUS=os.environ.get("SPARK_GRAFT_CPUS", "32"),
               SPARK_GRAFT_BENCH_PASSES=str(passes))
    # loud-failure convention: a hung or garbled bench surfaces as the
    # gate's own message, not a raw traceback (round-5 advice)
    try:
        r = subprocess.run(["sbt", "-batch", "runMain graft.Bench"],
                           cwd=REPO, env=env, capture_output=True, text=True,
                           timeout=3600)
    except subprocess.TimeoutExpired:
        sys.exit("bench run failed: timed out after 3600s")
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-2000:] + r.stderr[-2000:])
        sys.exit("bench run failed")
    try:
        return benchdiff.parse(r.stdout)
    except (json.JSONDecodeError, ValueError, KeyError) as e:
        sys.stderr.write(r.stdout[-2000:])
        sys.exit(f"bench run failed: could not parse bench output ({e})")


def main():
    baseline = None
    sf = "/root/testdata/sf0.1"
    pct, passes, json_path, normalize = 50.0, 2, None, True
    it = iter(sys.argv[1:])
    for a in it:
        if a == "--baseline":
            baseline = next(it)
        elif a == "--sf":
            sf = next(it)
        elif a == "--pct":
            pct = float(next(it))
        elif a == "--passes":
            passes = int(next(it))
        elif a == "--json":
            json_path = next(it)
        elif a == "--no-normalize":
            normalize = False
        else:
            sys.exit(f"unknown arg {a}")

    baseline = baseline or newest_baseline()
    old = benchdiff.load(baseline)
    new = benchdiff.load(json_path) if json_path else run_bench(sf, passes)

    failed = sorted(set(new.get("failed", [])) |
                    {q for q, t in new.get("queries", {}).items() if t < 0})
    if failed or new.get("n_failed", 0):
        print(f"FAIL: {max(len(failed), new.get('n_failed', 0))} faces threw "
              f"during the bench run: {failed}")
        sys.exit(1)

    h = benchdiff.host_factor(old, new) if normalize else 1.0
    rows, worse = benchdiff.compare(old, new, pct, normalize=h)
    oq, nq = old.get("queries", {}), new.get("queries", {})
    shared = sorted(set(oq) & set(nq))
    print(f"gate vs {os.path.relpath(baseline, REPO)}: {len(shared)} shared queries, "
          f"old {sum(oq[q] for q in shared):.1f}s → new {sum(nq[q] for q in shared):.1f}s"
          f" (host factor {h:.2f}: gating normalized times)")
    added = sorted(set(nq) - set(oq))
    if added:
        print(f"added (not gated): {added}")
    missing = sorted(set(oq) - set(nq))
    if missing:
        # a query silently vanishing from the bench is itself a failure:
        # the gate would otherwise go green while coverage shrank
        print(f"FAIL: baseline queries missing from this run: {missing}")
        sys.exit(1)
    if worse:
        print(f"FAIL: {len(worse)} queries regressed beyond {pct:.0f}% (+0.15s), "
              f"host-normalized (/{h:.2f}):")
        for d, q, a, b in worse:
            print(f"  {d:+7.1f}%  {q:32s} {a:6.2f}s → {b:6.2f}s(norm)")
        sys.exit(1)
    print(f"PASS: no query regressed beyond {pct:.0f}% (+0.15s), host-normalized (/{h:.2f})")


if __name__ == "__main__":
    main()
