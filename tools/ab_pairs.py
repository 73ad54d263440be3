#!/usr/bin/env python3
"""Run the benchmark on a parent revision and on this checkout in alternating pairs.

    python3 tools/ab_pairs.py --parent <rev> --workload <name> [--workload <name> ...]
        [--pairs 10] [--seed 1] [--trace 0|1] [--scratch <dir>]

Run from the root of a checkout. The parent revision is exported with
`git archive` into <scratch>/p-<sha> (no worktree metadata is left in the
repository); the tree is extracted into a sibling directory and renamed
into place only when the export succeeded. The change side is this
checkout's working tree. Keep <scratch> short: sbt's server socket lives
under it, and a Unix socket path may not exceed 107 bytes. Pair i runs
`python3 perfbench/run.py --workload W --seed <seed+i> --seconds S
--trace T` once from each side's root, with S the `run_seconds` of
BENCHMARK.json, the parent first on even i and the change first on odd i.
Each side builds itself on its first run; a run that ends without a
result line stops the tool.

With --trace 0 it prints, per workload and end-to-end metric of
BENCHMARK.json: the parent and change medians, the parent's IQR/median, how
many pairs the change won (ties count for neither side), and a verdict
against the metric's bound: `pass`, `REGRESSED`, or `unresolved` when the
parent's own IQR/median exceeds the bound and not every change run beats
every parent run. A `gain` note is added only when the change wins at least
nine tenths of the pairs and the medians differ by more than the parent's
IQR. With --trace 1 it diffs the per-layer counters (`*.spark.jobs`,
`*.fs.*`, `*.sources.*`) by their medians. Either way it then prints, per
operation kind of the run's report line (`workflow_hive_s`,
`workflow_versioned_s`, `dml_*_s`, `read_*_s`), the median over runs of
each side's per-kind median, so a claim shows which operation moved. Every
run's report and result lines are kept in <scratch>/runs.jsonl. It reads
BENCHMARK.json and perfbench/ and changes neither. Exit status is 0 when every run was correct, no more operations
failed on the change side, and no metric regressed.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

ROOT = os.getcwd()
COUNTERS = (".spark.jobs", ".fs.", ".sources.")
KINDS = ("workflow_", "dml_", "read_")


def export_parent(rev, scratch):
    sha = subprocess.run(["git", "rev-parse", "--verify", rev + "^{commit}"], cwd=ROOT,
                         check=True, capture_output=True, text=True).stdout.strip()
    dest = os.path.join(scratch, f"p-{sha[:8]}")
    if not os.path.isdir(dest):
        tmp = tempfile.mkdtemp(prefix=f"p-{sha[:8]}.", dir=scratch)
        archive = subprocess.Popen(["git", "archive", sha], cwd=ROOT, stdout=subprocess.PIPE)
        tar = subprocess.run(["tar", "-x", "-C", tmp], stdin=archive.stdout)
        archive.stdout.close()
        if archive.wait() != 0 or tar.returncode != 0:
            shutil.rmtree(tmp, ignore_errors=True)
            sys.exit(f"exporting {sha} failed")
        os.rename(tmp, dest)
    return sha, dest


def run_once(root, workload, seed, seconds, trace):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    out = subprocess.run(cmd, cwd=root, stdin=subprocess.DEVNULL, capture_output=True, text=True)
    lines = [l for l in out.stdout.splitlines() if l.startswith("{")]
    if not lines:
        sys.stderr.write(out.stderr[-2000:])
        sys.exit(f"{root}: perfbench/run.py exited {out.returncode} without a result line")
    # perfbench/run.py prints the report line, then the result line
    report = json.loads(lines[-2]) if len(lines) > 1 else {}
    return report, json.loads(lines[-1])


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def values(runs, name):
    return [r["metrics"][name]["value"] for r in runs if name in r.get("metrics", {})]


def e2e_rows(pairs, spec):
    rows, ok = [], True
    for m in spec["end_to_end"]:
        name, bound, lower = m["name"], m["bound"], m["better"] == "lower"
        ps = [p["metrics"].get(name, {}).get("value") for p, _ in pairs]
        cs = [c["metrics"].get(name, {}).get("value") for _, c in pairs]
        both = [(p, c) for p, c in zip(ps, cs) if p is not None and c is not None]
        if not both:
            rows.append(f"  {name}: no samples")
            ok = False
            continue
        pv, cv = [p for p, _ in both], [c for _, c in both]
        pm, cm = statistics.median(pv), statistics.median(cv)
        q1, q3 = quartiles(pv)
        spread = (q3 - q1) / pm if pm else float("inf")
        better = (lambda c, p: c < p) if lower else (lambda c, p: c > p)
        wins = sum(better(c, p) for p, c in both)
        worse = (cm - pm) / pm if lower else (pm - cm) / pm
        dominates = all(better(c, p) for c in cv for p in pv)
        if worse > bound and not dominates:
            verdict = "REGRESSED"
            ok = False
        elif spread > bound and not dominates:
            verdict = "unresolved"
        else:
            verdict = "pass"
        gain = wins >= 0.9 * len(both) and abs(cm - pm) > (q3 - q1) and better(cm, pm)
        rows.append(f"  {name} ({m['unit']}, bound {bound}): parent {pm:.4g} change {cm:.4g} "
                    f"(ratio {cm / pm:.3f}) parent IQR/median {spread:.3f} "
                    f"wins {wins}/{len(both)} -> {verdict}" + (" [gain]" if gain else ""))
    return rows, ok


def counter_rows(pairs):
    names = sorted({n for p, c in pairs for r in (p, c) for n in r.get("metrics", {})
                    if any(t in n for t in COUNTERS)})
    rows = []
    for n in names:
        pv, cv = values([p for p, _ in pairs], n), values([c for _, c in pairs], n)
        if not pv or not cv:
            rows.append(f"  {n}: missing on one side")
            continue
        pm, cm = statistics.median(pv), statistics.median(cv)
        mark = "" if pm == cm else "  <- differs"
        rows.append(f"  {n}: parent {pm:g} change {cm:g} (diff {cm - pm:+g}){mark}")
    return rows


def kind_rows(pairs):
    """Per-kind medians of the report lines: the median over runs of each run's median."""
    names = sorted({n for p, c in pairs for r in (p, c) for n in r.get("metrics", {})
                    if n.startswith(KINDS) and n.endswith("_s") and not n.endswith("_tail_s")})
    rows = []
    for n in names:
        pv, cv = values([p for p, _ in pairs], n), values([c for _, c in pairs], n)
        if not pv or not cv:
            rows.append(f"  {n}: missing on one side")
            continue
        pm, cm = statistics.median(pv), statistics.median(cv)
        rows.append(f"  {n}: parent {pm:.4g} change {cm:.4g} (ratio {cm / pm:.3f})" if pm else
                    f"  {n}: parent {pm:.4g} change {cm:.4g}")
    return rows


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent", required=True, help="git revision to compare against")
    ap.add_argument("--workload", action="append", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1, help="seed of pair 0; pair i uses seed+i")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # outside the checkout: every benchmark run empties perfbench/.work
    ap.add_argument("--scratch", default=os.path.join(tempfile.gettempdir(), "ab_pairs"))
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    os.makedirs(args.scratch, exist_ok=True)
    sha, parent_root = export_parent(args.parent, args.scratch)
    log = open(os.path.join(args.scratch, "runs.jsonl"), "a")
    all_ok = True
    for workload in args.workload:
        pairs, reports = [], []
        for i in range(args.pairs):
            seed = args.seed + i
            sides = [("parent", parent_root), ("change", ROOT)]
            if i % 2:
                sides.reverse()
            got, report = {}, {}
            for side, root in sides:
                report[side], got[side] = run_once(root, workload, seed, spec["run_seconds"],
                                                   args.trace)
                log.write(json.dumps({"workload": workload, "pair": i, "seed": seed, "side": side,
                                      "parent": sha, "trace": args.trace,
                                      "report": report[side], "result": got[side]}) + "\n")
                log.flush()
                print(f"{workload} pair {i} seed {seed} {side}: correct={got[side]['correct']} "
                      f"failed={got[side]['failed']}/{got[side]['attempted']}", file=sys.stderr)
            pairs.append((got["parent"], got["change"]))
            reports.append((report["parent"], report["change"]))
        correct = all(p["correct"] and c["correct"] for p, c in pairs)
        pf, cf = sum(p["failed"] for p, _ in pairs), sum(c["failed"] for _, c in pairs)
        print(f"{workload}: {len(pairs)} pairs vs parent {sha[:12]}, all correct {correct}, "
              f"failed operations parent {pf} change {cf}")
        all_ok &= correct and cf <= pf
        if args.trace:
            print("\n".join(counter_rows(pairs)))
        else:
            rows, ok = e2e_rows(pairs, spec)
            print("\n".join(rows))
            all_ok &= ok
        print("  per-kind medians (report line):")
        print("\n".join(kind_rows(reports)))
    sys.exit(0 if all_ok else 1)


if __name__ == "__main__":
    main()
