#!/usr/bin/env python3
"""Fold fresh full-bench runs into the committed per-round artifact.

Usage: bench_fold.py <prev_full.json> <out.json> <fresh1.json>...
         --fresh-only q63_bpe_merges,t23_bpe_encode,...
       bench_fold.py --all-fresh <out.json> <fresh1.json>...

Every fresh run must record the same "cpus" and "heap" (scripts/bench.sh
stamps both); the artifact records them too.

--all-fresh: per-query MIN across the fresh runs and nothing else — no
committed minima carried, no normalization. This is the baseline a
fold at a new box size starts from, and the per-round honest total.

Otherwise: per-query MIN across the fresh runs; queries NOT in
--fresh-only additionally fold in the previous round's committed
minimum (byte-identical code since that fold — interference only ever
adds time). Queries in --fresh-only (code changed this round, or new)
take minima from the fresh runs alone. Minima are carried only between
runs at the same CPU count: a prev artifact with another (or no)
"cpus" is refused, since across core counts the carried minima and
the control ratio measure the cores, not the code or the load.

Control normalization (r13 verdict item 3 — the calm-session bar
was unreachable two rounds running, so the METHOD changed): ambient
box load shifts timings 1.3-1.7x BETWEEN sessions, so raw fresh
minima taken under load are inflated relative to the carried calm
minima. The fold measures the session's load factor from the
CONTROL queries (q01/q17 — untouched code, committed calm minima in
prev) as the geomean of fresh_min/prev_min clamped to >= 1, then
records, for each fresh-only query, BOTH the raw fresh minimum
(fresh_raw) and the normalized value raw/ratio — and commits the
NORMALIZED value as the evidence-of-record minimum. Controls
themselves and carried queries are never normalized.
"""
import json
import os
import subprocess
import sys

CONTROLS = ["q01_filter_project", "q17_related_overlap"]


def main():
    args = sys.argv[1:]
    fo = []
    if "--fresh-only" in args:
        i = args.index("--fresh-only")
        fo = args[i + 1].split(",")
        del args[i:i + 2]
    all_fresh = "--all-fresh" in args
    if all_fresh:
        args.remove("--all-fresh")
        if fo:
            sys.exit("bench_fold: --all-fresh takes no --fresh-only list")
        prev_path, prev = None, {"queries": {}}
        out_path, fresh_paths = args[0], args[1:]
    else:
        prev_path, out_path, fresh_paths = args[0], args[1], args[2:]
        prev = json.load(open(prev_path))
    fresh = [json.load(open(p)) for p in fresh_paths]
    boxes = {(r.get("cpus"), r.get("heap")) for r in fresh}
    if len(boxes) != 1 or None in next(iter(boxes)):
        sys.exit(f"bench_fold: the fresh runs must all record one "
                 f"(cpus, heap), got {sorted(boxes, key=str)} — run them "
                 f"through scripts/bench.sh")
    cpus, heap = next(iter(boxes))
    if not all_fresh and prev.get("cpus") != cpus:
        sys.exit(f"bench_fold: {prev_path} was run at cpus="
                 f"{prev.get('cpus')}, the fresh runs at cpus={cpus} — "
                 f"minima do not carry across core counts; fold with "
                 f"--all-fresh")
    bad_controls = [c for c in CONTROLS if c in fo]
    if bad_controls:
        sys.exit(f"bench_fold: controls {bad_controls} cannot be "
                 "fresh-only — a changed control can't measure load")
    # union across ALL fresh runs (round-12 advice: a query present
    # only in later runs must not be silently dropped)
    names = sorted({n for r in fresh for n in r["queries"]})

    def fresh_min(n):
        vals = [r["queries"][n] for r in fresh
                if r["queries"].get(n) is not None]
        if not vals:
            # null in every fresh run: fail loudly with the name —
            # the artifact must not claim a timing that never ran
            sys.exit(f"bench_fold: query {n!r} has no non-null "
                     f"timing in any fresh run — rerun or drop it "
                     f"explicitly")
        return min(vals)

    # fresh-only names must exist in the fresh runs — a typo would
    # silently demote a code-changed query to carried folding
    unknown_fo = [n for n in fo if n not in names]
    if unknown_fo:
        sys.exit(f"bench_fold: --fresh-only names not in any fresh "
                 f"run: {unknown_fo}")
    # session load factor from the controls, BEFORE any folding.
    # No measurable control => fail loudly: committing raw minima
    # while the method string claims normalization is exactly the
    # silent-evidence failure this script exists to prevent.
    # geomean over UNROUNDED ratios (r14 advice: rounding each ratio
    # to 3dp before the geomean biased the clamp input); the per-
    # control ratios are rounded for DISPLAY in the artifact only
    raw_ratios = {}
    for c in [] if all_fresh else CONTROLS:
        if c in names and prev["queries"].get(c):
            raw_ratios[c] = fresh_min(c) / prev["queries"][c]
    if not raw_ratios and not all_fresh:
        sys.exit(f"bench_fold: no control ratio could be formed "
                 f"(controls {CONTROLS} missing from the fresh runs "
                 f"or null in {prev_path}) — cannot normalize")
    ratios = {c: round(v, 3) for c, v in raw_ratios.items()}
    prod = 1.0
    for v in raw_ratios.values():
        prod *= v
    geo = prod ** (1.0 / len(raw_ratios)) if raw_ratios else 1.0
    ratio = round(max(geo, 1.0), 3)  # a calm box never deflates
    # a query committed in prev but absent from EVERY fresh run would
    # silently vanish from the folded artifact (names is the fresh
    # union) — surface it; retiring a query should be a visible act
    vanished = sorted(n for n in prev.get("queries", {})
                      if n not in names)
    if vanished:
        print(f"bench_fold: WARNING — {len(vanished)} queries in "
              f"{prev_path} ran in no fresh run and are DROPPED from "
              f"the fold: {', '.join(vanished)}", file=sys.stderr)

    folded, fresh_raw = {}, {}
    for n in names:
        m = fresh_min(n)
        if n in fo:
            fresh_raw[n] = round(m, 3)
            m = m / ratio  # evidence of record = load-normalized
        elif prev["queries"].get(n) is not None:
            m = min(m, prev["queries"][n])
        folded[n] = round(m, 3)
    # merge the fresh runs' error maps — a clean artifact must mean
    # clean runs, not a hardcoded {}
    errors = {}
    for r in fresh:
        for q, e in (r.get("errors") or {}).items():
            errors.setdefault(q, e)
    raw_totals = [round(r["value"], 1) for r in fresh]
    # resolve the repo from the script's own location so direct
    # invocation from any cwd still pins a commit; fail loudly if
    # git can't answer — an unpinned evidence artifact is the
    # staleness hole artifacts_fresh.sh exists to close
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    res = subprocess.run(["git", "rev-parse", "--short", "HEAD"],
                         capture_output=True, text=True, cwd=repo)
    if res.returncode != 0 or not res.stdout.strip():
        sys.exit(f"bench_fold: git rev-parse failed in {repo}: "
                 f"{res.stderr.strip()}")
    commit = res.stdout.strip()
    out = {
        "metric": "total",
        "value": round(sum(folded.values()), 3),
        "unit": "sec",
        "queries": folded,
        "errors": errors,
        "sf": fresh[0]["sf"],
        "n_queries": len(folded),
        "commit": commit,
        "cpus": cpus,
        "heap": heap,
        "control_ratios": ratios,
        "load_factor": ratio,
        "fresh_raw": fresh_raw,
        "method": (
            f"all fresh: per-query MIN over {len(fresh)} fresh full runs "
            f"(raw run totals {raw_totals}) at cpus={cpus}, heap={heap}; "
            f"no committed minima carried, no normalization")
        if all_fresh else (
            f"per-query MIN folded over {len(fresh)} fresh full runs "
            f"(raw run totals {raw_totals}) and, for queries "
            f"byte-identical since the previous fold, the committed "
            f"{prev_path} minima; the {len(fo)} code-changed/new "
            f"queries ({', '.join(sorted(fo))}) take fresh-run minima "
            f"normalized by the session load factor {ratio} (geomean "
            f"of control fresh/committed ratios {ratios}, clamped "
            f">= 1; raw pre-normalization minima in fresh_raw)"),
    }
    json.dump(out, open(out_path, "w"), indent=1)
    print(f"wrote {out_path}: total {out['value']}s over "
          f"{len(folded)} queries, load factor {ratio} "
          f"(controls {ratios})")
    for n in sorted(fo):
        if n in folded:
            print(f"  fresh-only {n}: {folded[n]} "
                  f"(raw {fresh_raw[n]})")


if __name__ == "__main__":
    main()
